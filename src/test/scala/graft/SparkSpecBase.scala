package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session across suites (one JVM via Test/fork). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local("graft-test")
}

trait SparkSpecBase extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Encoders/implicits bound to the shared test session. */
  val testImplicits = TestSpark.spark.implicits

  /** `body`'s result and the Spark jobs it ran, collected under a job
    * group of its own on the calling thread. */
  def withJobs[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID}"
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add(e)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count")
      val out = try body finally sc.clearJobGroup()
      ListenerBusDrain(sc)
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the number of Spark jobs it ran. */
  def withJobCount[T](body: => T): (T, Int) = {
    val (out, jobs) = withJobs(body)
    (out, jobs.size)
  }

  def fixturePath(rel: String): String = {
    val url = getClass.getResource(s"/reference_fixtures/$rel")
    assert(url != null, s"missing fixture $rel")
    url.getPath
  }
}
