package graft

import org.apache.spark.{GraftBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import scala.collection.mutable

/** Spark work done by the jobs of one description tag. */
final case class TagCounts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                           shuffleReadBytes: Long = 0,
                           shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: TagCounts): TagCounts = TagCounts(jobs + o.jobs,
    stages + o.stages, tasks + o.tasks, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)
}

/** The job ledger: one listener that sums jobs, submitted stages, tasks,
  * shuffle read/write bytes and spilled bytes per job description tag
  * (`spark.job.description` at job submission; "" for none). A stage and
  * its tasks count under the tag of the job that submitted the stage.
  * Listener events arrive asynchronously, so [[read]] drains the bus
  * first; each read returns the work since the previous one. */
final class JobLedger private (sc: SparkContext) extends SparkListener {
  private val byTag = mutable.HashMap.empty[String, TagCounts]
  private val stageTag = mutable.HashMap.empty[Int, String]

  private def tagOf(props: java.util.Properties): String =
    Option(props).fold("")(_.getProperty(JobLedger.DescKey, ""))

  private def add(tag: String, c: TagCounts): Unit =
    byTag(tag) = byTag.getOrElse(tag, TagCounts()) + c

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add(tagOf(e.properties), TagCounts(jobs = 1))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val tag = tagOf(e.properties)
      stageTag(e.stageInfo.stageId) = tag
      add(tag, TagCounts(stages = 1))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val c =
      if (m == null) TagCounts(tasks = 1)
      else TagCounts(tasks = 1,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)
    add(stageTag.getOrElse(e.stageId, ""), c)
  }

  /** Every tag's counts since the previous read (or registration). */
  def read(): Map[String, TagCounts] = {
    GraftBus.drain(sc)
    synchronized { val out = byTag.toMap; byTag.clear(); out }
  }
}

object JobLedger {
  private val DescKey = "spark.job.description"

  /** A ledger listening on `sc` from now on. */
  def register(sc: SparkContext): JobLedger = {
    val ledger = new JobLedger(sc)
    sc.addSparkListener(ledger)
    ledger
  }

  /** Runs `body` with its Spark jobs described as `tag`, then restores the
    * caller's description. A description, not a job group: the caller's
    * group stays in force. */
  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    val callerDesc = sc.getLocalProperty(DescKey)
    sc.setJobDescription(tag)
    try body finally sc.setJobDescription(callerDesc)
  }
}
