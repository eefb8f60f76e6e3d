package perfbench

import scala.collection.mutable

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task metrics summed over the tasks of one job group. */
final class Totals {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var peakExecMemBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  def add(o: Totals): Totals = {
    tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; outputBytes += o.outputBytes
    outputRecords += o.outputRecords
    peakExecMemBytes = math.max(peakExecMemBytes, o.peakExecMemBytes)
    taskMs ++= o.taskMs
    this
  }

  /** Longest task over the median task (durations floored at 1 ms). */
  def skew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.map(math.max(_, 1L)).sorted
      s.last.toDouble / Stats.median(s.map(_.toDouble).toSeq)
    }
}

/** Sums task metrics per job group (`SparkContext.setJobGroup`); tasks of
  * jobs started outside any group land under "". Registered by the
  * benchmark on its own session; the program under test is unchanged.
  */
final class TaskCounters(sc: SparkContext) extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, Totals]

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = group)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = totals.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new Totals)
      t.tasks += 1
      t.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.spillBytes += m.diskBytesSpilled
      t.outputBytes += m.outputMetrics.bytesWritten
      t.outputRecords += m.outputMetrics.recordsWritten
      t.peakExecMemBytes = math.max(t.peakExecMemBytes, m.peakExecutionMemory)
      t.taskMs += e.taskInfo.duration
    }
  }

  /** Drop everything counted so far (after delivering pending events). */
  def reset(): Unit = {
    BenchBus.drain(sc)
    synchronized { totals.clear(); stageGroup.clear() }
  }

  /** Per-group totals of every task that has ended so far. */
  def byGroup(): Map[String, Totals] = {
    BenchBus.drain(sc)
    synchronized { totals.map { case (g, t) => g -> new Totals().add(t) }.toMap }
  }

  /** All groups together. */
  def all(): Totals = byGroup().values.foldLeft(new Totals)(_ add _)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
