package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Task and SQL metrics of the passes a leg tags, read from task-end
  * events. A pass runs under the local property `perfbench.tag`; every
  * task of its jobs is summed under that tag. SQL metrics arrive as the
  * task's accumulator updates, by the metric's display name. */
final class SparkMetrics(spark: SparkSession) {
  final class Totals {
    var tasks = 0L
    val taskMs = mutable.ArrayBuffer[Double]()
    var runMs, gcMs = 0.0
    var spillBytes, outputBytes = 0.0
    var scanMs = 0.0 // SQL metric "scan time" of the file scans
  }
  private val byTag = mutable.Map[String, Totals]()
  private val stageTag = mutable.Map[Int, String]()
  private def totals(tag: String): Totals = byTag.synchronized(byTag.getOrElseUpdate(tag, new Totals))

  private val Tag = "perfbench.tag"

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tag)))
      tag.foreach(t => stageTag.synchronized(e.stageIds.foreach(stageTag(_) = t)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val tag = stageTag.synchronized(stageTag.get(e.stageId))
      val m = e.taskMetrics
      if (tag.isDefined && m != null) {
        val t = totals(tag.get)
        t.synchronized {
          t.tasks += 1
          t.taskMs += e.taskInfo.duration.toDouble
          t.runMs += m.executorRunTime
          t.gcMs += m.jvmGCTime
          t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          t.outputBytes += m.outputMetrics.bytesWritten
          e.taskInfo.accumulables.foreach { a =>
            if (a.name.contains("scan time")) a.update.foreach {
              case v: Long => t.scanMs += v
              case _ =>
            }
          }
        }
      }
    }
  })

  /** Runs `f` with its jobs and queries tagged `tag`. */
  def tagged[T](tag: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tag, tag)
    try f finally sc.setLocalProperty(Tag, null)
  }

  /** Totals of `tag` once every event so far has been delivered. */
  def read(tag: String): Totals = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    totals(tag)
  }
}
