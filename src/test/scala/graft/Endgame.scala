package graft

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.scalatest.Assertions._

import graft.ops.LocalEndgame

/** Shared local-vs-distributed harness for every [[LocalEndgame]] call
  * site: the same seeded input runs at the default bound and under
  * `withBound(0)`, and the logged decisions prove which path each run took.
  */
object Endgame {

  /** One logged decision: `rows` is a count, `>cap` or `?`. */
  final case class Decision(op: String, rows: String, bytes: String, path: String)

  private val LoggerName = "graft.ops.LocalEndgame"

  /** `body`'s result plus the endgame decisions it logged, in order. */
  def traced[T](body: => T): (T, Seq[Decision]) = synchronized {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("endgame-trace", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val lc = new LoggerConfig(LoggerName, Level.INFO, false)
    lc.addAppender(app, null, null)
    cfg.addLogger(LoggerName, lc)
    ctx.updateLoggers()
    try {
      val out = body
      (out, lines.asScala.toSeq.map { l =>
        val kv = l.split(" ").map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
        Decision(kv("op"), kv("rows"), kv("bytes"), kv("path"))
      })
    } finally {
      cfg.removeLogger(LoggerName)
      ctx.updateLoggers()
      app.stop()
    }
  }

  /** Runs `run` at the default bound and under `withBound(0)`. Asserts
    * every decision of an op named `op` (or `op.<part>`) was local in the
    * first run and distributed in the second, and that both runs return
    * the same value, which is returned. */
  def agree[T](op: String)(run: => T): T = {
    def mine(ds: Seq[Decision]) = ds.filter(d => d.op == op || d.op.startsWith(op + "."))
    val (local, dl) = traced(run)
    val (dist, dd) = traced(LocalEndgame.withBound(0)(run))
    assert(mine(dl).nonEmpty && mine(dl).forall(_.path == "local"),
      s"$op at the default bound did not run locally: $dl")
    assert(mine(dd).nonEmpty && mine(dd).forall(_.path == "distributed"),
      s"$op under withBound(0) did not run distributed: $dd")
    assert(local == dist, s"$op: local and distributed results differ")
    local
  }
}
