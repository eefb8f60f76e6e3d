package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, Test/fork := true). */
object TestSession {
  lazy val spark: SparkSession = GraftSession.local("graft-test", "4")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** The description of every Spark job `run` starts, in start order; a
    * job Spark describes itself (a file listing job, say) keeps its own
    * description, every other job reads `jobsOf`. Jobs are told apart
    * from other work by a job group of their own.
    */
  protected def jobsOf(run: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"jobsOf-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsOf")
    try run
    finally {
      sc.clearJobGroup()
      TestBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    seen.asScala.toSeq
  }
}
