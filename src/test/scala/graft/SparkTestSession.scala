package graft

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** One shared local SparkSession for the whole test JVM. */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()

  /** Runs `body` and returns its result with the properties of every job
    * started during it, in start order. The listener bus is drained before
    * the listener is removed, so no job of the body is missed. */
  def recordJobs[T](body: => T): (T, Seq[Properties]) = {
    val jobs = new ConcurrentLinkedQueue[Properties]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(Option(j.properties).getOrElse(new Properties()))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.GraftListenerBridge.waitUntilListenerBusEmpty(sc, 30000L)
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }

  /** Driver actions during `body`: one per SQL execution id (AQE's stage
    * jobs share it) plus one per RDD-level job without one. */
  def countActions(body: => Unit): Int = {
    val ids = recordJobs(body)._2.map(p => Option(p.getProperty("spark.sql.execution.id")))
    ids.flatten.distinct.size + ids.count(_.isEmpty)
  }
}
