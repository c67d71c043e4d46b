package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** One timed interval of the benchmark's own calls into the engine, or of a
  * Spark stage reported by [[StageListener]]. Times are milliseconds since
  * the tracer was created; `parent` is the id of the enclosing span or -1. */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double, parent: Int, run: String) {
  def ms: Double = endMs - startMs
}

/** In-memory span recorder. Spans nest by call structure on the driver
  * thread; nothing is written until [[toJson]] is called at the end. */
final class Tracer(val run: String) {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private val buf = ArrayBuffer[Span]()
  private var open: List[Int] = Nil

  def nowMs: Double = (System.nanoTime() - nano0) / 1e6
  def fromEpochMs(t: Long): Double = (t - epoch0).toDouble

  def span[T](name: String)(f: => T): T = synchronized {
    val id = buf.size
    buf += null // reserve the id so children get larger ones
    val parent = open.headOption.getOrElse(-1)
    val t0 = nowMs
    open = id :: open
    try f
    finally {
      open = open.tail
      buf(id) = Span(id, name, t0, nowMs, parent, run)
    }
  }

  def add(name: String, startMs: Double, endMs: Double, parent: Int): Span = synchronized {
    val s = Span(buf.size, name, startMs, endMs, parent, run)
    buf += s
    s
  }

  /** A span around `f` if one is open (a traced operation); otherwise just `f`. */
  def child[T](name: String)(f: => T): T =
    if (synchronized(open.isEmpty)) f else span(name)(f)

  /** Adds an interval measured elsewhere (epoch milliseconds) as a child of
    * the open span, if there is one. */
  def addChild(name: String, startEpochMs: Long, endEpochMs: Long): Unit = synchronized {
    open.headOption.foreach(add(name, fromEpochMs(startEpochMs), fromEpochMs(endEpochMs), _))
  }

  def spans: Seq[Span] = synchronized(buf.filter(_ != null).toVector)
  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Every span below `root`, at any depth. */
  def under(root: Span): Seq[Span] = {
    val ids = scala.collection.mutable.Set(root.id)
    spans.sortBy(_.id).filter { s =>
      val in = ids(s.parent)
      if (in) ids += s.id
      in
    }
  }

  def toJson: String = Json(spans.map(s => Map(
    "id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
    "parent" -> s.parent, "run" -> s.run)))
}

object Tracer {
  /** Total length covered by a set of intervals (overlaps counted once). */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = curE max e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Per-stage task totals, filled from task-end events. */
final class StageStats(val stageId: Int) {
  @volatile var submitted = -1L
  @volatile var completed = -1L
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMs = ArrayBuffer[Long]()

  /** Role of the stage in the engine's plans, read from what it moved: a
    * stage that scans input and writes a shuffle feeds the conv_id
    * exchange; one that reads and writes a shuffle runs between two
    * exchanges (the kernel, or a partial aggregate); one that only reads a
    * shuffle finishes an aggregate. */
  def role: String =
    if (shuffleReadBytes == 0 && shuffleWriteBytes > 0) "scan_exchange"
    else if (shuffleReadBytes > 0 && shuffleWriteBytes > 0) "mid_exchange"
    else if (shuffleReadBytes > 0) "final"
    else "narrow"
}

final class JobStats(val jobId: Int, val op: String, val part: String, val callSite: String,
                     val stageIds: Seq[Int], val start: Long) {
  @volatile var end: Long = -1L
}

/** Bench-side SparkListener: job, stage and task totals tagged with the
  * benchmark operation that submitted them, plus the running size of cached
  * RDD blocks. */
final class StageListener extends SparkListener {
  val stages = new ConcurrentHashMap[Int, StageStats]()
  val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile var cachedBytes = 0L
  @volatile var maxCachedBytes = 0L

  private def stage(id: Int) = stages.computeIfAbsent(id, i => new StageStats(i))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = if (p == null) "" else Option(p.getProperty(k)).getOrElse("")
    // a job's result stage is its last; its name is the action's call site
    val callSite = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs.put(e.jobId, new JobStats(e.jobId, prop(StageListener.OpKey), prop(StageListener.PartKey),
      callSite, e.stageIds, e.time))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    if (s.submitted < 0) s.submitted = e.stageInfo.submissionTime.getOrElse(s.completed)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId)
      s.synchronized {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.taskMs += m.executorRunTime
      }
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val prev = Option(blocks.put(info.blockId.name, size)).map(_.longValue).getOrElse(0L)
      cachedBytes += size - prev
      maxCachedBytes = maxCachedBytes max cachedBytes
    }
  }

  def jobsOf(op: String): Seq[JobStats] = jobs.values.asScala.filter(_.op == op).toVector.sortBy(_.jobId)

  /** Completed stages that ran tasks for the given jobs. */
  def stagesOf(js: Seq[JobStats]): Seq[StageStats] =
    js.flatMap(_.stageIds).distinct.flatMap(i => Option(stages.get(i)))
      .filter(s => s.tasks > 0 && s.completed >= 0)

  /** Stages of one operation, or of one named part of it. */
  def stagesOf(op: String, part: Option[String] = None): Seq[StageStats] =
    stagesOf(jobsOf(op).filter(j => part.forall(_ == j.part)))
}

object StageListener {
  /** Local properties naming the benchmark operation (and a part of it,
    * such as one query of an analyst round) that submitted a job. */
  val OpKey = "perfbench.op"
  val PartKey = "perfbench.part"
}

/** Heap and collector readings over a timed window: the heap still in use
  * after one full collection at its end (what the process retains between
  * operations, free of the floating garbage a young collection leaves), and
  * the collector time the window spent. */
object HeapWatch {
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private var gcMs0 = 0L

  def arm(): Unit = gcMs0 = gcMs

  /** Ends the window: (live heap in MB, collector seconds in the window). */
  def disarm(): (Double, Double) = {
    val gcS = (gcMs - gcMs0) / 1e3
    System.gc()
    val live = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    (live / (1024.0 * 1024.0), gcS)
  }
}
