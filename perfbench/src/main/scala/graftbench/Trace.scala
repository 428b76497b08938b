package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task metrics summed over a set of tasks. */
final class StageSums {
  var tasks = 0L
  var runNs = 0L      // executor run time
  var cpuNs = 0L      // executor CPU time
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L // max over tasks
  var inputBytes = 0L
  var outputBytes = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    runNs += m.executorRunTime * 1000000L
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
    shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    peakExecBytes = math.max(peakExecBytes, m.peakExecutionMemory)
    inputBytes += m.inputMetrics.bytesRead
    outputBytes += m.outputMetrics.bytesWritten
  }

  def -(o: StageSums): StageSums = {
    val d = new StageSums
    d.tasks = tasks - o.tasks; d.runNs = runNs - o.runNs; d.cpuNs = cpuNs - o.cpuNs; d.gcMs = gcMs - o.gcMs
    d.shuffleWriteBytes = shuffleWriteBytes - o.shuffleWriteBytes
    d.shuffleWriteRecords = shuffleWriteRecords - o.shuffleWriteRecords
    d.shuffleReadBytes = shuffleReadBytes - o.shuffleReadBytes; d.spillBytes = spillBytes - o.spillBytes
    d.peakExecBytes = peakExecBytes // a max, not a sum: the later snapshot's
    d.inputBytes = inputBytes - o.inputBytes; d.outputBytes = outputBytes - o.outputBytes
    d
  }

  def +=(o: StageSums): Unit = {
    tasks += o.tasks; runNs += o.runNs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleWriteRecords += o.shuffleWriteRecords
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    peakExecBytes = math.max(peakExecBytes, o.peakExecBytes)
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
  }
}

/** The benchmark's one SparkListener. It keeps:
  *  - task metrics summed per job group (the traced run tags every span
  *    with its own group) and in total;
  *  - task durations per stage, for the straggler ratio;
  *  - the bytes of every cached (RDD) block in storage memory, from
  *    block updates, so the high-water mark is exact rather than
  *    sampled.
  */
final class Meter extends SparkListener {
  private val JobGroup = Tracer.JobGroup
  private val NoGroup = ""
  private val total = new StageSums
  private val byGroup = mutable.HashMap.empty[String, StageSums]
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageTasks = mutable.HashMap.empty[Int, ArrayBuffer[Long]]
  private val stageOwner = mutable.HashMap.empty[Int, String]

  private val cachedBlocks = mutable.HashMap.empty[String, Long]
  private var cachedNow = 0L
  private var cachedPeak = 0L

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroup)))
    stageGroup.put(e.stageInfo.stageId, g.getOrElse(NoGroup))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics == null) return
    val g = Option(stageGroup.get(e.stageId)).getOrElse(NoGroup)
    total.add(e.taskMetrics)
    byGroup.getOrElseUpdate(g, new StageSums).add(e.taskMetrics)
    stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
    stageOwner(e.stageId) = g
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val mem = if (info.storageLevel.isValid) info.memSize else 0L
      val old = cachedBlocks.getOrElse(id, 0L)
      if (mem == 0) cachedBlocks.remove(id) else cachedBlocks(id) = mem
      cachedNow += mem - old
      cachedPeak = math.max(cachedPeak, cachedNow)
    }
  }

  def snapshot: StageSums = synchronized { val s = new StageSums; s += total; s }
  def group(g: String): StageSums = synchronized {
    val s = new StageSums; byGroup.get(g).foreach(s += _); s
  }

  /** High-water mark of cached (RDD) blocks in storage memory since the
    * last reset. */
  def resetPeak(): Unit = synchronized { cachedPeak = cachedNow }
  def peakCached: Long = synchronized(cachedPeak)

  /** Worst max/median task-duration ratio over stages with at least
    * `minTasks` tasks, among stages whose group satisfies `keep`. */
  def stragglerRatio(minTasks: Int, keep: String => Boolean): Double = synchronized {
    val ratios = stageTasks.collect {
      case (st, ds) if ds.size >= minTasks && keep(stageOwner.getOrElse(st, NoGroup)) =>
        val sorted = ds.sorted
        val med = sorted(sorted.size / 2).toDouble
        if (med > 0) sorted.last / med else 1.0
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  def clearStages(): Unit = synchronized { stageTasks.clear(); stageOwner.clear() }
}

/** One traced call: name, layer, start/end (ns on one clock), parent and
  * the run's id. `group` is the Spark job group its jobs ran under. */
final case class Span(
    id: Int, name: String, layer: String, parent: Int, runId: String, group: String,
    start: Long, var end: Long = 0L,
    counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty)

object Tracer {
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroup = "spark.jobGroup.id"
}

/** Span recorder. Disabled, `span` is a plain call: no job group is set
  * and nothing is recorded, which is how the end-to-end run measures.
  * Enabled, each span tags its jobs with its own Spark job group, so the
  * [[Meter]] can attribute stage metrics to it. Spans stay in memory
  * until the run ends. */
final class Tracer(sc: SparkContext, val enabled: Boolean, val runId: String) {
  import Tracer.JobGroup
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private val current = new InheritableThreadLocal[Span]
  private var nextId = 0

  def span[T](name: String, layer: String)(f: => T): T =
    if (!enabled) f
    else {
      val parent = current.get
      val s = synchronized {
        nextId += 1
        val sp = Span(nextId, name, layer, if (parent == null) 0 else parent.id, runId,
          s"$runId/$nextId", System.nanoTime())
        spans += sp
        sp
      }
      val prevGroup = sc.getLocalProperty(JobGroup)
      sc.setLocalProperty(JobGroup, s.group)
      current.set(s)
      try f
      finally {
        s.end = System.nanoTime()
        current.set(parent)
        sc.setLocalProperty(JobGroup, prevGroup)
      }
    }

  /** Attach a count to the innermost open span (no-op when disabled). */
  def count(key: String, v: Double): Unit =
    if (enabled) Option(current.get).foreach(s => s.synchronized(s.counts(key) = s.counts.getOrElse(key, 0.0) + v))

  /** Self time per span: its duration minus the union of its children's
    * intervals (children of concurrent pipeline stages may overlap). */
  def selfNs: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      covered += curB - curA
      s.id -> math.max(0L, (s.end - s.start) - covered)
    }.toMap
  }

  /** Spans as JSON lines, one object a line. */
  def toJsonLines: Seq[String] = spans.map { s =>
    val counts = s.counts.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"run":"${s.runId}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""layer":"${s.layer}","start_ns":${s.start},"end_ns":${s.end},"counts":{$counts}}"""
  }.toSeq
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Persistent-RDD residency. */
object Residency {
  /** Ids of the persisted RDDs that satisfy `keep`, and their bytes in
    * storage (memory and disk). */
  def snap(sc: SparkContext, keep: Int => Boolean): (Set[Int], Long) = {
    val ids = sc.getPersistentRDDs.keySet.filter(keep).toSet
    val bytes = sc.getRDDStorageInfo.filter(i => ids.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    (ids, bytes)
  }
}
