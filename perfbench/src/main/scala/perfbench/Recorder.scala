package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.Access

/** The benchmark's one listener and span recorder.
  *
  * Always on: the bytes of persisted RDD blocks held in memory, and
  * their peak. While `tracing` is set it also keeps spans (name, layer, parent,
  * start, end) in memory and attributes Spark's work to them:
  *
  *  - jobs, stages and tasks through a local property naming the
  *    innermost open span, which Spark copies into every job it submits;
  *  - Catalyst phases and files read through the SQL executions, by the
  *    span that was open when the phase started or the execution ended;
  *  - codegen units and compile time as deltas of the JVM-wide counters,
  *    read on the driver thread when a span opens and closes.
  *
  * Listener-side counters are adders written on the bus thread; readers
  * call [[drain]] first, so every posted event has been counted.
  */
final class Recorder(sc: SparkContext) extends SparkListener {
  import Recorder._

  /** Whether spans and Spark's work are being recorded. */
  @volatile var tracing: Boolean = false

  // ------------------------------------------------------------ cache
  // block name -> (rdd id, bytes in memory)
  private val blockBytes = new ConcurrentHashMap[String, (Int, Long)]()
  private val cacheNow = new AtomicLong
  private val cachePeak = new AtomicLong

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val mem = if (info.storageLevel.isValid) info.memSize else 0L
      val prev =
        if (mem > 0) blockBytes.put(key, (info.blockId.asRDDId.get.rddId, mem))
        else blockBytes.remove(key)
      val now = cacheNow.addAndGet(mem - (if (prev == null) 0L else prev._2))
      cachePeak.accumulateAndGet(now, math.max)
    }
  }

  /** Unpersisting removes an RDD's blocks without a block update. */
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    blockBytes.asScala.toSeq.foreach { case (key, (rdd, bytes)) =>
      if (rdd == e.rddId && blockBytes.remove(key) != null) cacheNow.addAndGet(-bytes)
    }

  def cachePeakBytes: Long = { drain(); cachePeak.get }

  def drain(): Unit = Access.drain(sc)

  // ------------------------------------------------------------ spans
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  /** Run `body` inside a span; a plain call when tracing is off. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!tracing) body
    else {
      val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1),
        name, layer, System.nanoTime(), System.currentTimeMillis(),
        codegenUnits(), CodeGenerator.compileTime)
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.cgUnits = codegenUnits() - s.cgUnits0
        s.cgNs = CodeGenerator.compileTime - s.cgNs0
        open = open.tail
        sc.setLocalProperty(SpanProperty, open.headOption.map(_.id.toString).orNull)
      }
    }

  def allSpans: Seq[Span] = spans.toSeq

  /** `root` and every span opened inside it. */
  def subtree(root: Span): Seq[Span] = {
    val ids = scala.collection.mutable.Set(root.id)
    spans.drop(root.id + 1).filter { s =>
      val in = ids.contains(s.parent)
      if (in) ids += s.id
      in
    }.toSeq :+ root
  }

  /** Duration minus the part of it its child spans cover. */
  def selfNs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
      .sortBy(_._1)
    var covered = 0L
    var upTo = s.startNs
    kids.foreach { case (a, b) =>
      val from = math.max(a, upTo)
      if (b > from) { covered += b - from; upTo = b }
    }
    (s.endNs - s.startNs) - covered
  }

  // ------------------------------------------------- listener counters
  private val spanOfStage = new ConcurrentHashMap[Int, Int]()
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageReads = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private val phases = ArrayBuffer.empty[(String, Long, Long)]
  private val executions = ArrayBuffer.empty[(Long, Long)]
  private val seenPlans = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[AnyRef, java.lang.Boolean]())

  def countersOf(spanId: Int): Counters =
    counters.computeIfAbsent(spanId, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      .foreach { id =>
        val span = id.toInt
        countersOf(span).add(Jobs, 1)
        e.stageInfos.foreach(si => spanOfStage.put(si.stageId, span))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(spanOfStage.get(e.stageInfo.stageId)).foreach { span =>
      val c = countersOf(span)
      c.add(Stages, 1)
      c.add(Tasks, e.stageInfo.numTasks)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(spanOfStage.get(e.stageId)).foreach { span =>
      val m = e.taskMetrics
      if (m != null) {
        val c = countersOf(span)
        val info = e.taskInfo
        c.add(TaskRunMs, m.executorRunTime)
        c.add(TaskCpuNs, m.executorCpuTime)
        c.add(GcMs, m.jvmGCTime)
        c.add(SpillBytes, m.memoryBytesSpilled + m.diskBytesSpilled)
        c.add(SchedDelayMs, math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
           else 0L)))
        c.add(ShuffleWriteBytes, m.shuffleWriteMetrics.bytesWritten)
        val read = m.shuffleReadMetrics.totalBytesRead
        c.add(ShuffleReadBytes, read)
        c.add(FetchWaitMs, m.shuffleReadMetrics.fetchWaitTime)
        c.add(ScanRows, m.inputMetrics.recordsRead)
        c.add(ScanBytes, m.inputMetrics.bytesRead)
        if (read > 0) synchronized {
          stageReads.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long]) += read
        }
      }
    }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionEnd if tracing =>
      Access.queryExecution(e).foreach { qe =>
        val files =
          try Access.filesRead(qe.executedPlan)
          catch { case scala.util.control.NonFatal(_) => 0L }
        synchronized {
          executions += ((e.time, files))
          if (seenPlans.add(qe)) qe.tracker.phases.foreach { case (name, p) =>
            phases += ((name, p.startTimeMs, p.endTimeMs - p.startTimeMs))
          }
        }
      }
    case _ =>
  }

  /** Catalyst ms per phase name, for phases that started inside `root`. */
  def phaseMs(root: Span): Map[String, Long] = synchronized {
    phases.filter(p => p._2 >= root.startMs && p._2 <= root.endMs)
      .groupMapReduce(_._1)(_._3)(_ + _)
  }

  /** Files read by SQL executions that ended inside `root`. */
  def filesRead(root: Span): Long = synchronized {
    executions.filter(e => e._1 >= root.startMs && e._1 <= root.endMs)
      .map(_._2).sum
  }

  /** Listener counters summed over `root` and its descendants. */
  def totals(root: Span): Counters = {
    val out = new Counters
    subtree(root).foreach(s => Option(counters.get(s.id)).foreach(out.addAll))
    out
  }

  /** Max over median task shuffle read, in the stage that read the most
    * shuffle bytes among the stages of `roots`; 1 when nothing shuffled.
    */
  def shuffleSkew(roots: Seq[Span]): Double = synchronized {
    val ids = roots.flatMap(subtree).map(_.id).toSet
    val candidates = stageReads.asScala.toSeq.filter { case (stage, _) =>
      ids.contains(spanOfStage.getOrDefault(stage, -1))
    }
    if (candidates.isEmpty) 1.0
    else {
      val reads = candidates.maxBy(_._2.sum)._2.sorted
      val median = reads(reads.size / 2).toDouble
      if (median > 0) reads.last / median else 1.0
    }
  }
}

object Recorder {
  val SpanProperty = "perfbench.span"

  def codegenUnits(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  final class Span(val id: Int, val parent: Int, val name: String,
                   val layer: String, val startNs: Long, val startMs: Long,
                   val cgUnits0: Long, val cgNs0: Long) {
    @volatile var endNs: Long = startNs
    @volatile var endMs: Long = startMs
    @volatile var cgUnits: Long = 0L
    @volatile var cgNs: Long = 0L
    def ms: Double = (endNs - startNs) / 1e6
  }

  // counter slots
  val Jobs = 0; val Stages = 1; val Tasks = 2
  val TaskRunMs = 3; val TaskCpuNs = 4; val GcMs = 5; val SpillBytes = 6
  val SchedDelayMs = 7; val ShuffleWriteBytes = 8; val ShuffleReadBytes = 9
  val FetchWaitMs = 10; val ScanRows = 11; val ScanBytes = 12
  private val Slots = 13

  final class Counters {
    private val v = Array.fill(Slots)(new LongAdder)
    def add(slot: Int, n: Long): Unit = v(slot).add(n)
    def apply(slot: Int): Long = v(slot).sum
    def addAll(o: Counters): Unit = (0 until Slots).foreach(i => add(i, o(i)))
  }
}
