package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spark-layer counters from a listener the benchmark registers: jobs,
  * tasks, scheduler delay, executor time and bytes. Listener events arrive
  * asynchronously, so counters are read as whole-window totals. */
final class SparkProbe extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val schedDelayMs = new AtomicLong
  val taskRunMs = new AtomicLong
  val taskCpuNs = new AtomicLong
  val inputBytes = new AtomicLong
  val inputRecords = new AtomicLong
  val shuffleBytes = new AtomicLong
  val outputBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      // the Spark UI's scheduler-delay formula
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      schedDelayMs.addAndGet(math.max(0L, delay))
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      inputRecords.addAndGet(m.inputMetrics.recordsRead)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "tasks" -> tasks.get, "sched_delay_ms" -> schedDelayMs.get,
    "task_run_ms" -> taskRunMs.get, "task_cpu_ms" -> taskCpuNs.get / 1000000L,
    "input_bytes" -> inputBytes.get, "input_records" -> inputRecords.get,
    "shuffle_bytes" -> shuffleBytes.get, "output_bytes" -> outputBytes.get)
}

object SparkProbe {
  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}

/** JVM-layer readings from the platform MXBeans. */
object JvmProbe {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** old-generation occupancy after a full collection, in MB: the live heap
    * the run leaves behind */
  def heapLiveMb(): Double = {
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old"))
    val after = old.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    val used = if (after > 0) after
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    used / 1048576.0
  }
}
