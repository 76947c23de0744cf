package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Task-level counters of one layer (or of the whole pass). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var emptyTasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; emptyTasks += o.emptyTasks; cpuNs += o.cpuNs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }
}

/** Attributes jobs, stages and tasks to the layer whose span submitted
  * them, through the job group the [[Tracer]] sets around each layer call
  * (`pb/<layer>`; jobs outside any span count under ""). Tracks the bytes
  * of stored RDD blocks (persist and localCheckpoint) from
  * `onBlockUpdated` and their peak since the last [[reset]]. Read only
  * after `Bus.drain`. */
final class LayerListener extends SparkListener {
  private val stageLayer = mutable.HashMap.empty[Int, String]
  private val layers = mutable.HashMap.empty[String, Counters]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cached = 0L
  private var peak = 0L
  private var failedStages = 0L

  private def layerOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Bus.JobGroupKey)))
      .collect { case g if g.startsWith(Tracer.GroupPrefix) => g.drop(Tracer.GroupPrefix.length) }
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val layer = layerOf(e.properties)
    e.stageIds.foreach(stageLayer(_) = layer)
    layers.getOrElseUpdate(layer, new Counters).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (e.stageInfo.failureReason.isDefined) failedStages += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (e.jobResult != JobSucceeded) failedStages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = layers.getOrElseUpdate(stageLayer.getOrElse(e.stageId, ""), new Counters)
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
        c.emptyTasks += 1
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cached += size - blocks.getOrElse(key, 0L)
      if (size == 0L) blocks.remove(key) else blocks(key) = size
      peak = math.max(peak, cached)
    }
  }

  /** Starts a new measurement window: counters to zero, peak to the bytes
    * stored now. */
  def reset(): Unit = synchronized {
    layers.clear(); stageLayer.clear(); failedStages = 0L; peak = cached
  }

  /** Per-layer counters and the cached peak since the last [[reset]]. */
  def snapshot(): (Map[String, Counters], Long) = synchronized {
    val copy = layers.map { case (k, v) =>
      val c = new Counters; c.add(v); k -> c }.toMap
    (copy, peak)
  }

  def failedStageCount: Long = synchronized(failedStages)
}

/** One span: a layer call (pipeline) or one catalog query. `planNs` and
  * `execNs` split a catalog query into the query function and its sink. */
final case class Span(id: Int, parent: Int, pass: Int, name: String,
                      layer: String, startNs: Long, var endNs: Long = 0L,
                      var planNs: Long = 0L, var execNs: Long = 0L) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans nest; each sets the job group of its
  * layer for the calls it wraps and restores the enclosing one on exit.
  * When disabled, [[span]] only runs its body, so untraced passes carry
  * neither job groups nor spans. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  var enabled = false
  var pass = 0
  private var stack: List[Span] = Nil

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), pass,
        name, layer, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.GroupPrefix + layer, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p.layer, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Records the query-function and sink times of the innermost span. */
  def phases(planNs: Long, execNs: Long): Unit =
    stack.headOption.foreach { s => s.planNs = planNs; s.execNs = execNs }

  /** Self time per layer over the spans of one pass: each span's duration
    * minus the time its direct children cover. */
  def selfNsByLayer(pass: Int): Map[String, Long] = {
    val sel = spans.filter(_.pass == pass)
    val childNs = sel.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.durNs).sum }
    sel.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum }
  }

  def toJsonLines: Seq[String] = spans.toSeq.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"pass":${s.pass},"name":${Main.jstr(s.name)},""" +
      s""""layer":${Main.jstr(s.layer)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""plan_ns":${s.planNs},"exec_ns":${s.execNs}}"""
  }
}

object Tracer {
  val GroupPrefix = "pb/"
}

/** Janino compile count and compile nanoseconds, process-wide. */
object Codegen {
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileNs: Long = CodeGenerator.compileTime
}
