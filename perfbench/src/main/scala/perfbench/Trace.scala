package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work counted over an interval or a job group. */
final case class Tally(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                       shuffleBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: Tally): Tally = Tally(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
  def -(o: Tally): Tally = Tally(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
}

/** Counts jobs, completed stages, tasks, shuffle bytes written and bytes
  * spilled, in total and per job group (the group a job was submitted
  * under; streaming micro-batches run under their query's run id). */
final class Counters extends SparkListener {
  private var total = Tally()
  private val byGroup = mutable.HashMap.empty[String, Tally]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def add(group: String, t: Tally): Unit = {
    total = total + t
    byGroup(group) = byGroup.getOrElse(group, Tally()) + t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    add(g, Tally(jobs = 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      add(stageGroup.getOrElse(e.stageInfo.stageId, ""), Tally(stages = 1))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val (sh, sp) =
      if (m == null) (0L, 0L)
      else (m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    add(stageGroup.getOrElse(e.stageId, ""),
      Tally(tasks = 1, shuffleBytes = sh, spillBytes = sp))
  }

  def snapshot(spark: SparkSession): Tally = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized(total)
  }

  def group(spark: SparkSession, g: String): Tally = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized(byGroup.getOrElse(g, Tally()))
  }
}

/** JVM-wide heap and GC readings (local mode: driver and executors share
  * the one JVM). */
object Jvm {
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since the last reset, in MB. */
  def peakHeapMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Seconds since the JVM started. */
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def maxHeapMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getMax / 1048576.0
}

/** A timed layer call: `parent` is the enclosing span (-1 at the top),
  * `iter` the iteration it belongs to, `group` the job group its own
  * Spark jobs ran under. */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
                      startNs: Long, endNs: Long, group: String) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the traced run. Each span gets its own job group, so
  * [[Counters]] attributes jobs to the innermost span that submitted them.
  * Spans stay in memory until the run ends. With `enabled = false` every
  * call is a plain pass-through. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile var iter = 0
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  /** Runs `body` as span `name`. `parent` overrides the thread's enclosing
    * span (for work on another thread, e.g. a streaming micro-batch). */
  def span[T](name: String, parent: Option[Int] = None)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val par = parent.getOrElse(stack.get.headOption.getOrElse(-1))
      val sc = spark.sparkContext
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      val group = s"span-$id"
      sc.setJobGroup(group, name)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevDesc)
        synchronized { spans += Span(id, name, par, iter, t0, t1, group) }
      }
    }

  /** The innermost open span on this thread, or -1. */
  def current: Int = stack.get.headOption.getOrElse(-1)

  /** Extra job groups whose jobs belong to a span (a streaming query's
    * run id → the span that drained it). */
  val adopted = mutable.HashMap.empty[String, Int]

  /** Self time: the span's duration minus the time its children cover
    * (children of one span run one after another). */
  def selfSeconds: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.durS - kids.getOrElse(s.id, Nil).map(_.durS).sum).max(0.0)
    }.toMap
  }
}
