package graft.engine

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession

/**
 * Driver-phase attribution for the crawl wave loop (round-5 verdict #1:
 * "attribute the fixture-crawl floor with TIMERS, not job counts").
 *
 * `time("phase"){...}` around the engine's driver-side sections
 * accumulates WALL nanos and calls per named phase. Phases may nest; each
 * level accumulates its own wall time, so `snapshot` reads like a flame
 * graph cut at the names the engine chose. `time` also sets the Spark job
 * description to the phase name (thread-local, the standard labelling
 * hook), so a listener can bucket job time by phase.
 */
object WavePhase {

  private val wallNanos = new ConcurrentHashMap[String, AtomicLong]()
  private val wallCount = new ConcurrentHashMap[String, AtomicLong]()

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

  final case class PhaseRow(name: String, wallSec: Double, calls: Long)

  /** Cumulative wall seconds and calls per phase, slowest first. */
  def snapshot: Seq[PhaseRow] = {
    import scala.jdk.CollectionConverters._
    wallNanos.keySet.asScala.toSeq.map { n =>
      PhaseRow(n, wallNanos.get(n).get / 1e9,
        Option(wallCount.get(n)).fold(0L)(_.get))
    }.sortBy(-_.wallSec)
  }
}
