package graft

import graft.engine.CrawlEngine
import graft.fixtures.FixtureCorpus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.util.Properties

/**
 * `GraftSession.withConf` leaves the session as it found it (set keys get
 * their value back, unset keys are unset again) on every exit path, and
 * the crawl engine's small-wave profile is scoped to its waves: Spark
 * copies the session's SQL confs into every SQL job's properties, so a
 * listener sees which profile each job ran under.
 */
class GraftSessionSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Parts = "spark.sql.shuffle.partitions"
  private val WholeStage = "spark.sql.codegen.wholeStage"
  private val Aqe = "spark.sql.adaptive.enabled"

  test("withConf restores set and unset keys after a normal return") {
    val before = spark.conf.getAll
    assert(before.contains(Parts) && !before.contains(WholeStage))
    val seen = GraftSession.withConf(spark, Map(Parts -> "7", WholeStage -> "false")) {
      (spark.conf.get(Parts), spark.conf.get(WholeStage))
    }
    assert(seen == ("7", "false"))
    assert(spark.conf.getAll == before)
  }

  test("withConf restores set and unset keys after an exception") {
    val before = spark.conf.getAll
    intercept[IllegalStateException] {
      GraftSession.withConf(spark, Map(Parts -> "7", WholeStage -> "false")) {
        throw new IllegalStateException("boom")
      }
    }
    assert(spark.conf.getAll == before)
  }

  test("withConf scopes nest: each restores what it found at entry") {
    val before = spark.conf.getAll
    GraftSession.withConf(spark, Map(Parts -> "7")) {
      val outer = spark.conf.getAll
      GraftSession.withConf(spark, Map(Parts -> "9", WholeStage -> "false")) {
        assert(spark.conf.get(Parts) == "9")
        assert(spark.conf.get(WholeStage) == "false")
      }
      assert(spark.conf.getAll == outer)
      assert(spark.conf.get(Parts) == "7")
    }
    assert(spark.conf.getAll == before)
  }

  // One fixture crawl for the two engine tests below. The engine is built
  // BEFORE the session's partition count changes, so a conf captured at
  // construction would show as a stale value after run().
  private final case class Crawl(before: Map[String, String],
                                 after: Map[String, String],
                                 waveRows: Seq[Long],
                                 jobs: Seq[(String, Properties)])

  private val Step = "graft.test.step"

  private lazy val crawl: Crawl = {
    val params = Queries.fixtureParams
    val engine = new CrawlEngine(spark,
      FixtureCorpus.generate(params).toDF, FixtureCorpus.seedUrl(params),
      Queries.fixtureRules, useSketch = true)
    val sc = spark.sparkContext
    val ((before, after, waveRows), jobs) = SparkTestSession.recordJobs {
      GraftSession.withConf(spark, Map(Parts -> "7")) {
        val before = spark.conf.getAll
        sc.setLocalProperty(Step, "crawl")
        val tables = engine.run()
        val after = spark.conf.getAll
        sc.setLocalProperty(Step, "after")
        val waveRows = tables.metrics.filter(col("partitionId") === -1)
          .select("frontierRows").as[Long].collect().toSeq
        sc.setLocalProperty(Step, null)
        (before, after, waveRows)
      }
    }
    Crawl(before, after, waveRows, jobs.map(p => (p.getProperty(Step), p)))
  }

  /** Jobs of SQL executions at one step (RDD-level jobs carry no SQL conf). */
  private def sqlJobs(step: String): Seq[Properties] =
    crawl.jobs.collect {
      case (`step`, p) if p.getProperty("spark.sql.execution.id") != null => p
    }

  test("run() leaves the session conf exactly as it was before run()") {
    assert(crawl.before(Parts) == "7")
    assert(crawl.after == crawl.before)
  }

  test("small waves run with the small-wave profile; later jobs with the session's conf") {
    assert(crawl.waveRows.nonEmpty && crawl.waveRows.forall(_ <= 1024),
      s"fixture waves must all be small: ${crawl.waveRows}")
    val inCrawl = sqlJobs("crawl")
    assert(inCrawl.nonEmpty)
    inCrawl.foreach { p =>
      assert(p.getProperty(WholeStage) == "false")
      assert(p.getProperty(Aqe) == "false")
    }
    val afterCrawl = sqlJobs("after")
    assert(afterCrawl.nonEmpty)
    afterCrawl.foreach { p =>
      Seq(Parts, WholeStage, Aqe, "spark.sql.codegen.factoryMode",
        "spark.sql.autoBroadcastJoinThreshold").foreach { k =>
        assert(Option(p.getProperty(k)) == crawl.before.get(k), k)
      }
    }
  }
}
