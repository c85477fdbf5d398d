package graft.engine

import graft.SparkTestSession
import graft.fixtures.FixtureCorpus
import graft.model._
import graft.oracle.RefCrawler
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Per-wave driver-ACTION budget (round-2 verdict #1): deep crawls are
 * wave-latency bound, and every driver action is a scheduling round-trip
 * on the critical path. Round 2 issued ~10 actions per batch (empty
 * probes, discovered.count, frontier pre-count, per-batch stat collects);
 * round 3 folds them into the aggregations each batch must run anyway.
 *
 * Jobs are NOT the unit here — AQE launches one job per query stage, so
 * job counts overstate actions ~8x. An ACTION = one SQL execution id
 * (AQE's stages share it) or one RDD-level job without an execution id
 * (localCheckpoint materialization).
 */
class ActionBudgetSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // no redirects / no temporal failures: one batch per wave, so the
  // budget divides cleanly
  private val params = FixtureCorpus.Params(hosts = 3, pagesPerHost = 4,
    linksPerPage = 3, redirectPages = 0, failPages = 0, plainPages = 0,
    ftpHost = false)
  private lazy val corpus = FixtureCorpus.generate(params)
  private val seed = FixtureCorpus.seedUrl(params)
  private val rules = Seq(RecipeRule(spider = Some(".*"), depth = 4))

  test("per-batch action budget: <= 5 actions/batch on the parity config") {
    // Budget per batch (sketch on): the batch aggregation, the rank
    // materialize + its count pass, the sketch build, and one spare.
    val oracle = RefCrawler.run(corpus, seed, rules)
    val waves = oracle.waveTotals.size
    var tables: CrawlTables = null
    val actions = SparkTestSession.countActions {
      tables = new CrawlEngine(spark, corpus.toDF, seed, rules,
        useSketch = true).run()
    }
    // end-of-crawl fixed cost: lazily-built table checkpoints + the ord
    // rank (CrawlTables fields only build on access, so this crawl+seen
    // read pays far less; the headroom covers a consumer touching every
    // table, which the next test counts)
    val budget = waves * 5 + 12
    info(s"$actions driver actions over $waves waves (budget $budget)")
    assert(actions <= budget,
      s"driver actions must stay within the per-batch budget: " +
        s"$actions actions for $waves waves (budget $budget)")
    // and the crawl still matches the oracle exactly
    val eSeen = tables.seen.orderBy("seq")
      .select("url", "wave").as[(String, Int)].collect.toSeq
    assert(eSeen == oracle.seen.map(s => (s.url, s.wave)), "seen parity")
  }

  test("a caller that reads every table stays within the same budget") {
    // the crawl plus one collect of each parity surface and the fetched
    // files: every table is built on this first read
    val waves = RefCrawler.run(corpus, seed, rules).waveTotals.size
    val actions = SparkTestSession.countActions {
      val t = new CrawlEngine(spark, corpus.toDF, seed, rules,
        useSketch = true).run()
      Seq(t.seen, t.processed, t.dump, t.edges, t.aliases, t.fetchLog,
        t.fetched).foreach(_.collect())
    }
    val budget = waves * 5 + 12
    info(s"$actions driver actions over $waves waves, every table read " +
      s"(budget $budget)")
    assert(actions <= budget, s"$actions actions for $waves waves (budget $budget)")
  }
}
