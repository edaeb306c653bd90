package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** SparkListener registered by the traced run only. Rolls task metrics up
  * per operation class: the runner names the class of the operation in
  * flight through the `perfbench.class` local property, which Spark copies
  * onto every job the operation submits. Jobs submitted with no class
  * (setup, checks, untraced units) are ignored.
  */
final class SparkRollup(sc: SparkContext) extends SparkListener {

  final class Totals {
    var jobs = 0L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var input = 0L
    def add(o: Totals): Unit = {
      jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      spill += o.spill; input += o.input
    }
  }

  private val byClass = mutable.Map.empty[String, Totals]
  private val stageClass = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(SparkRollup.Key)))
      .foreach { cls =>
        byClass.getOrElseUpdate(cls, new Totals).jobs += 1
        e.stageIds.foreach(stageClass(_) = cls)
        jobStart(e.jobId) = e.time
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (cls <- stageClass.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = byClass.getOrElseUpdate(cls, new Totals)
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.input += m.inputMetrics.bytesRead
    }
  }

  /** Totals over the given classes, after every pending event is delivered. */
  def totals(classes: Iterable[String]): Totals = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    synchronized {
      val t = new Totals
      classes.foreach(c => byClass.get(c).foreach(t.add))
      t
    }
  }

  /** (start, end) wall-clock ms of every finished classed job. */
  def jobs: Seq[(Long, Long)] = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    synchronized(jobSpans.toList)
  }

  def stop(): Unit = sc.removeSparkListener(this)
}

object SparkRollup {
  val Key = "perfbench.class"
}
