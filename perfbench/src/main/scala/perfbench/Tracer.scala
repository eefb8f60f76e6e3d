package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext

/** One timed interval at a layer boundary. `parent` is -1 for a root. */
final case class Span(id: Int, name: String, parent: Int, runId: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out once, when the benchmark ends.
  * A layer span also sets the layer's name as the job group, so the task
  * counters attribute that layer's Spark jobs to it.
  */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var runId = 0
  private var lastId = -1

  def nextRun(): Int = { runId += 1; runId }

  def span[A](name: String, jobGroup: Boolean = true)(body: => A): A = {
    lastId += 1
    val id = lastId
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    if (jobGroup) sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      if (jobGroup) sc.clearJobGroup()
      open = open.tail
      spans += Span(id, name, parent, runId, t0, t1)
    }
  }

  def ofRun(run: Int): Seq[Span] = spans.filter(_.runId == run).toSeq

  /** Each span's duration minus the part its children cover. */
  def selfSeconds(run: Seq[Span]): Seq[(Span, Double)] = {
    val childSum = run.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    run.map(s => s -> (s.seconds - childSum.getOrElse(s.id, 0.0)))
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":${s.runId},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
