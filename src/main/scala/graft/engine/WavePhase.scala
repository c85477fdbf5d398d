package graft.engine

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/**
 * Driver-phase attribution for the crawl wave loop (round-5 verdict #1:
 * "attribute the fixture-crawl floor with TIMERS, not job counts").
 *
 * Two ledgers, both cheap enough to stay always-on:
 *
 *  - WALL nanos per named phase (`time("phase"){...}` around the engine's
 *    driver-side sections) — phases may nest; each level accumulates its
 *    own wall time, so the report reads like a flame graph cut at the
 *    names the engine chose;
 *  - JOB nanos per phase: `time` also sets the Spark job description to
 *    the phase name (thread-local, the standard labelling hook), and an
 *    optional listener buckets executed-job wall time by that label. The
 *    difference (wall − jobs) is pure driver latency: Catalyst
 *    analysis/optimization, whole-stage codegen, scheduling gaps.
 *
 * `install(spark)` is idempotent per SparkContext; snapshot/reset let a
 * caller print a per-run table.
 */
object WavePhase {

  private val wallNanos = new ConcurrentHashMap[String, AtomicLong]()
  private val wallCount = new ConcurrentHashMap[String, AtomicLong]()
  private val jobNanos = new ConcurrentHashMap[String, AtomicLong]()
  private val jobCount = new ConcurrentHashMap[String, AtomicLong]()
  private val jobStarts = new ConcurrentHashMap[Int, (String, Long)]()
  private val installed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def acc(m: ConcurrentHashMap[String, AtomicLong], k: String,
                  v: Long): Unit =
    m.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)

  /** Time a driver-side phase; labels any Spark jobs it launches. */
  def time[T](spark: SparkSession, name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    val t0 = System.nanoTime()
    try f
    finally {
      acc(wallNanos, name, System.nanoTime() - t0)
      acc(wallCount, name, 1L)
      sc.setJobDescription(prev)
    }
  }

  /** Start bucketing job wall time by job description. Idempotent. */
  def install(spark: SparkSession): Unit = {
    val id = spark.sparkContext.applicationId
    if (installed.add(id))
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          val desc = Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("(unlabelled)")
          jobStarts.put(j.jobId, (desc, System.nanoTime()))
        }
        override def onJobEnd(j: SparkListenerJobEnd): Unit = {
          val s = jobStarts.remove(j.jobId)
          if (s != null) {
            acc(jobNanos, s._1, System.nanoTime() - s._2)
            acc(jobCount, s._1, 1L)
          }
        }
      })
  }

  final case class PhaseRow(name: String, wallSec: Double, calls: Long,
                            jobSec: Double, jobs: Long) {
    def driverSec: Double = math.max(0.0, wallSec - jobSec)
  }

  def snapshot: Seq[PhaseRow] = {
    import scala.jdk.CollectionConverters._
    val names = (wallNanos.keySet.asScala ++ jobNanos.keySet.asScala).toSeq
    names.map { n =>
      PhaseRow(n,
        Option(wallNanos.get(n)).fold(0.0)(_.get / 1e9),
        Option(wallCount.get(n)).fold(0L)(_.get),
        Option(jobNanos.get(n)).fold(0.0)(_.get / 1e9),
        Option(jobCount.get(n)).fold(0L)(_.get))
    }.sortBy(-_.wallSec)
  }

  def reset(): Unit = {
    wallNanos.clear(); wallCount.clear(); jobNanos.clear(); jobCount.clear()
  }

  def report(): String = {
    val rows = snapshot
    val header = f"${"phase"}%-28s ${"wall_s"}%8s ${"calls"}%6s ${"job_s"}%8s ${"jobs"}%5s ${"driver_s"}%9s"
    (header +: rows.map(r =>
      f"${r.name}%-28s ${r.wallSec}%8.3f ${r.calls}%6d ${r.jobSec}%8.3f ${r.jobs}%5d ${r.driverSec}%9.3f"))
      .mkString("\n")
  }
}
