package graft.engine

import graft.SparkTestSession
import graft.fixtures.FixtureCorpus
import graft.model._
import graft.oracle.RefCrawler
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * What an in-memory wave builds and runs: only what the next wave reads.
 * A depth-0 split whose fetch half is known to be empty still counts as a
 * wave but runs no job; `seen` is never checkpointed per wave; the other
 * output tables are built on first read or at the compaction; and a rule
 * starts with its queue's size known (no emptiness probe). Each crawl is
 * also checked against the sequential oracle.
 */
class WaveWorkSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The six parity surfaces: seen order, processing order, dump order,
    * edges, aliases, fetch log; and the fetched files. */
  private def assertParity(docs: Seq[CorpusDoc], seed: String,
                           rules: Seq[RecipeRule], config: CrawlConfig,
                           t: CrawlTables, clue: String): Unit = {
    val oracle = RefCrawler.run(docs, seed, rules, config = config)
    assert(t.seen.orderBy("seq").select("url", "wave").as[(String, Int)]
      .collect.toSeq == oracle.seen.map(s => (s.url, s.wave)), s"$clue: seen order")
    assert(t.processed.orderBy("ord").select("wave", "url", "mode", "retry")
      .as[(Int, String, Int, Boolean)].collect.toSeq ==
      oracle.processed.map(p => (p.wave, p.url, p.mode, p.retry)), s"$clue: processing order")
    assert(t.dump.orderBy("seq").select("url").as[String].collect.toSeq == oracle.dump,
      s"$clue: dump order")
    assert(t.edges.select("src", "dst", "wave").as[(String, String, Int)].collect.toSet ==
      oracle.edges.map { case ((s, d), w) => (s, d, w) }.toSet, s"$clue: edges")
    assert(t.aliases.select("canonicalUrl", "aliasUrl", "wave")
      .as[(String, String, Int)].collect.toSet == oracle.aliases.toSet, s"$clue: aliases")
    assert(t.fetchLog.select("wave", "url", "mode", "errorCode", "attempt")
      .as[(Int, String, Int, Int, Int)].collect.toSeq.sorted ==
      oracle.fetchLog.map(l => (l.wave, l.url, l.mode, l.errorCode, l.attempt)).sorted,
      s"$clue: fetch log")
    assert(t.fetched.orderBy("ord").select("url", "filename").as[(String, String)]
      .collect.toSeq == oracle.fetched, s"$clue: fetched files")
  }

  /** A 12-page chain on one host: page i links page i+1, a file, and on
    * every third page a redirect to a landing page; every fourth page's
    * first fetch times out (a retry batch). Crawled to the chain's end:
    * 13+ waves, past the in-memory compaction at wave CompactWaves = 8. */
  private val chainSeed = "http://h0.test/c0.html"
  private lazy val chain: Seq[CorpusDoc] = (0 until 12).flatMap { i =>
    val page = CorpusDoc(s"http://h0.test/c$i.html",
      Seq(Span("link", s"http://h0.test/c${i + 1}.html", "", 0),
        Span("link", s"http://h0.test/f$i.txt", "", 30)) ++
        (if (i % 3 == 0) Seq(Span("link", s"http://h0.test/r$i.html", "", 60)) else Nil),
      fail_attempts = if (i % 4 == 3) 1 else 0)
    val file = CorpusDoc(s"http://h0.test/f$i.txt", Seq(Span("text", s"file $i", "", 0)))
    val redirect =
      if (i % 3 != 0) Nil
      else Seq(CorpusDoc(s"http://h0.test/r$i.html", Nil,
          redirect_to = Some(s"http://h0.test/l$i.html")),
        CorpusDoc(s"http://h0.test/l$i.html", Seq(Span("text", s"landing $i", "", 0))))
    Seq(page, file) ++ redirect
  }
  private val chainRules = Seq(RecipeRule(spider = Some(".*\\.html$"),
    fetch = Some(".*\\.txt$"), dump = Some(".*/c[0-9]+\\.html$"), depth = 20))

  test("in-memory crawl deeper than the compaction window: full parity") {
    val t = new CrawlEngine(spark, chain.toDF, chainSeed, chainRules).run()
    val waves = t.metrics.filter(col("partitionId") === -1).count()
    assert(waves >= 13, s"expected a crawl past the compaction, got $waves waves")
    assertParity(chain, chainSeed, chainRules, CrawlConfig(), t, "deep")
  }

  test("deep in-memory crawl under a politeness budget: full parity") {
    // budget 1 on one host: one chunk per record, so a wave stacks several
    // `seen` pieces and the crawl's pieces outgrow the compaction window
    val config = CrawlConfig(perHostBudget = Some(1))
    val t = new CrawlEngine(spark, chain.toDF, chainSeed, chainRules,
      config = config).run()
    assertParity(chain, chainSeed, chainRules, config, t, "deep-budget")
  }

  /** A tree web (page k links pages k*f+1 .. k*f+f) spidered to `depth`:
    * every wave but the last is a spider wave; the last is the depth-0
    * split, whose fetch half is empty. */
  private def tree(fanout: Int, depth: Int): (Seq[CorpusDoc], Seq[String]) = {
    def url(k: Long) = s"http://h${k % 7}.test/p$k.html"
    val inner = (0 until depth).map(d => math.pow(fanout, d).toLong).sum
    val total = inner + math.pow(fanout, depth).toLong
    val docs = (0L until inner).map(k => CorpusDoc(url(k),
      (1 to fanout).map(j => Span("link", url(k * fanout + j), "", j * 10))))
    (docs, (0L until total).map(url))
  }

  test("tree crawl: the fetch-empty split wave runs no job, no seen truncation") {
    // fanout 6, depth 5: wave 5 ranks 1,296 records, past the driver-local
    // rank limit (1,024), so its `seen` piece is the big path's output
    val (docs, bfs) = tree(fanout = 6, depth = 5)
    val rules = Seq(RecipeRule(spider = Some(".*"), depth = 5))
    val (t, jobs) = SparkTestSession.recordJobs(
      new CrawlEngine(spark, docs.toDF, bfs.head, rules).run())
    // one batch aggregation (one action) per fetching wave, none for the
    // split wave; and no job labelled with the bare wave phase, the label
    // any job of the split wave would carry (it opens no inner phase)
    def labelled(label: String) =
      jobs.filter(_.getProperty("spark.job.description") == label)
    assert(labelled("batch_stats")
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).distinct.size == 5,
      "batch aggregations")
    assert(labelled("wave_total").isEmpty, "jobs outside every inner phase")
    val (_, countJobs) = SparkTestSession.recordJobs(t.seen.count())
    val labels = (jobs ++ countJobs)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
    assert(!labels.exists(Set("seen_truncate", "logs_build")),
      s"run() + seen.count() labels: ${labels.distinct}")
    assert(t.seen.orderBy("seq").select("url").as[String].collect.toSeq == bfs,
      "seen order is the BFS order")
    val waves = t.metrics.filter(col("partitionId") === -1)
      .select("wave", "frontierRows").as[(Int, Long)].collect.toSeq.sorted
    assert(waves.map(_._1) == (1 to 6), s"waves $waves")
    assert(waves.last._2 == 0L, "the split wave fetched nothing")
  }

  test("two-rule crawl: the next rule starts with a known size, no probe job") {
    // rule 1 ends in a depth-0 split, and so does rule 2 at its entry: a
    // rule of unknown size would probe its queue with limit(1).count(), the
    // one crawl job outside every wave phase (sketch off, no checkpoint)
    val params = FixtureCorpus.Params(hosts = 3, pagesPerHost = 3,
      linksPerPage = 3, redirectPages = 2, failPages = 2)
    val docs = FixtureCorpus.generate(params)
    val seed = FixtureCorpus.seedUrl(params)
    val rules = Seq(
      RecipeRule(spider = Some(".*"), fetch = Some(".*flaky.*"), depth = 1),
      RecipeRule(spider = Some(".*page[01]\\.html$"), fetch = Some(".*\\.txt$"),
        depth = 0))
    val (t, jobs) = SparkTestSession.recordJobs(
      new CrawlEngine(spark, docs.toDF, seed, rules).run())
    val unlabelled = jobs.count(p => p.getProperty("spark.job.description") == null)
    assert(unlabelled == 0, s"$unlabelled jobs ran outside a wave phase")
    assertParity(docs, seed, rules, CrawlConfig(), t, "two-rule")
  }
}
