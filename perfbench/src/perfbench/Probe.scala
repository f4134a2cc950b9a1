package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/**
 * Task-metric listener the harness registers in traced runs. Jobs carry
 * the layer name of the span that submitted them (the `perfbench.layer`
 * local property), so executor time, shuffle and spill add up per layer
 * as well as in total. Stage running intervals give the driver share:
 * wall time during which no stage was running.
 */
final class Probe extends SparkListener {
  final class Agg {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var peakExecMem = 0L; var inputBytes = 0L
  }

  @volatile var active = false
  private val byLayer = mutable.Map.empty[String, Agg]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def agg(layer: String): Agg = byLayer.getOrElseUpdate(layer, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (active) {
      val layer = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Probe.LayerProperty))).getOrElse("other")
      e.stageIds.foreach(stageLayer(_) = layer)
      agg(layer).jobs += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (active) for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
      stageIntervals += ((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (active && m != null) {
      val a = agg(stageLayer.getOrElse(e.stageId, "other"))
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      a.inputBytes += m.inputMetrics.bytesRead
    }
  }

  def reset(): Unit = synchronized {
    byLayer.clear(); stageLayer.clear(); stageIntervals.clear()
  }

  def layer(name: String): Agg = synchronized(byLayer.getOrElse(name, new Agg))

  def total: Agg = synchronized {
    val t = new Agg
    byLayer.values.foreach { a =>
      t.jobs += a.jobs; t.tasks += a.tasks; t.runMs += a.runMs; t.cpuNs += a.cpuNs
      t.shuffleRead += a.shuffleRead; t.shuffleWrite += a.shuffleWrite
      t.spill += a.spill; t.peakExecMem = math.max(t.peakExecMem, a.peakExecMem)
      t.inputBytes += a.inputBytes
    }
    t
  }

  /** Share of [startMs, endMs) during which no stage was running. */
  def driverShare(startMs: Long, endMs: Long): Double = synchronized {
    val covered = Trace.coveredNs(stageIntervals.toSeq.map { case (s, e) =>
      (math.max(s, startMs), math.min(e, endMs)) })
    1.0 - covered.toDouble / math.max(1L, endMs - startMs)
  }
}

object Probe {
  val LayerProperty = "perfbench.layer"

  /** Runs `f` with its Spark jobs attributed to `layer`, inside a span of
    * the same name. */
  def layer[T](spark: org.apache.spark.sql.SparkSession, layer: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(LayerProperty)
    sc.setLocalProperty(LayerProperty, layer)
    try Trace(layer)(f) finally sc.setLocalProperty(LayerProperty, prev)
  }
}
