package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-per-JVM test session (forked sbt test JVM). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = Bench.session(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf = "/root/testdata/sf0.001"

  /** Runs `body` in job group `tag` and returns the jobs that group
    * launched and the physical plans of the SQL executions started
    * meanwhile, in order. The listener bus delivers in order, so once a
    * marker job's start arrives, every event posted before it has
    * arrived too. */
  def probe(tag: String)(body: => Unit): (Int, Seq[String]) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val plans = new ConcurrentLinkedQueue[String]
    @volatile var barrier: (String, CountDownLatch) = ("", new CountDownLatch(0))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val group = e.properties.getProperty("spark.jobGroup.id")
        if (group == tag) jobs.incrementAndGet()
        if (group == barrier._1) barrier._2.countDown()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case e: SparkListenerSQLExecutionStart => plans.add(e.physicalPlanDescription)
        case _ =>
      }
    }
    def drain(marker: String): Unit = {
      barrier = (marker, new CountDownLatch(1))
      sc.setJobGroup(marker, marker)
      sc.parallelize(Seq(1), 1).count()
      assert(barrier._2.await(60, TimeUnit.SECONDS), s"$marker never arrived")
    }
    sc.addSparkListener(listener)
    try {
      drain(s"$tag-before")
      jobs.set(0)
      plans.clear()
      sc.setJobGroup(tag, tag)
      body
      drain(s"$tag-after")
      (jobs.get, plans.asScala.toSeq)
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
  }
}
