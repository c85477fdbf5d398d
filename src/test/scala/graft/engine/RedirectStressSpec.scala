package graft.engine

import graft.SparkTestSession
import graft.model._
import graft.oracle.RefCrawler
import org.scalatest.funsuite.AnyFunSuite

/**
 * Adversarial redirect-chain interleavings (round-2 distributed redirect
 * resolver): every same-wave collision class between chains, discoveries
 * and aliases, each checked EXACTLY against the sequential oracle — plus
 * the scale property the rework exists for: Spark jobs per crawl scale
 * with chain LENGTH, not with the NUMBER of redirect records.
 */
class RedirectStressSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def page(url: String, links: Seq[String]): CorpusDoc =
    CorpusDoc(url, Span("text", "prose", "", 0) +:
      links.zipWithIndex.map { case (l, i) => Span("link", l, "", 10 + i * 20) })

  private def redirect(url: String, to: String): CorpusDoc =
    CorpusDoc(url, Nil, redirect_to = Some(to))

  private val seed = "http://h0.test/seed.html"

  private def assertParity(corpus: Seq[CorpusDoc], clue: String,
                           depth: Int = 4): CrawlTables = {
    val rules = Seq(RecipeRule(spider = Some(".*"), depth = depth))
    val oracle = RefCrawler.run(corpus, seed, rules)
    val engine = new CrawlEngine(spark, corpus.toDF, seed, rules).run()

    val eSeen = engine.seen.orderBy("seq")
      .select("url", "wave").as[(String, Int)].collect.toSeq
    assert(eSeen == oracle.seen.map(s => (s.url, s.wave)), s"$clue: seen order")
    val eProc = engine.processed.orderBy("ord")
      .select("wave", "url", "mode", "retry")
      .as[(Int, String, Int, Boolean)].collect.toSeq
    assert(eProc == oracle.processed.map(p => (p.wave, p.url, p.mode, p.retry)),
      s"$clue: processing order")
    val eLog = engine.fetchLog
      .select("wave", "url", "mode", "errorCode", "attempt")
      .as[(Int, String, Int, Int, Int)].collect.toSeq.sorted
    val oLog = oracle.fetchLog
      .map(l => (l.wave, l.url, l.mode, l.errorCode, l.attempt)).sorted
    assert(eLog == oLog, s"$clue: fetch log")
    val eAliases = engine.aliases.select("canonicalUrl", "aliasUrl", "wave")
      .as[(String, String, Int)].collect.toSet
    assert(eAliases == oracle.aliases.toSet, s"$clue: aliases")
    engine
  }

  test("chain target collides with an EARLIER record's discovery -> dup abort") {
    // wave 2 processes A (seq 1) then R (seq 2); A's page discovers X
    // before R's chain reaches X -> DuplicateUrlWarning, chain dropped
    val corpus = Seq(
      page(seed, Seq("http://h0.test/a.html", "http://h0.test/r.html")),
      page("http://h0.test/a.html", Seq("http://h0.test/x.html")),
      redirect("http://h0.test/r.html", "http://h0.test/x.html"),
      page("http://h0.test/x.html", Nil))
    val t = assertParity(corpus, "disc-then-chain")
    // the chain must NOT have alias'd X
    assert(t.aliases.count() == 0)
  }

  test("EARLIER chain alias suppresses a later record's discovery of the same url") {
    // wave 2: R (seq 1) aliases X, then B (seq 2) would discover X ->
    // suppressed (already in the web); X never re-enqueued
    val corpus = Seq(
      page(seed, Seq("http://h0.test/r.html", "http://h0.test/b.html")),
      redirect("http://h0.test/r.html", "http://h0.test/x.html"),
      page("http://h0.test/b.html", Seq("http://h0.test/x.html")),
      page("http://h0.test/x.html", Nil))
    val t = assertParity(corpus, "chain-then-disc")
    assert(t.aliases.count() == 1)
    // X seen exactly once (via the alias), never fetched as its own record
    import spark.implicits._
    val xFetches = t.processed.filter(t.processed("url").endsWith("x.html")).count()
    assert(xFetches == 0, "alias'd url must not be re-fetched")
  }

  test("two chains to the same target in one wave: first aliases, second aborts") {
    val corpus = Seq(
      page(seed, Seq("http://h0.test/r1.html", "http://h0.test/r2.html")),
      redirect("http://h0.test/r1.html", "http://h0.test/x.html"),
      redirect("http://h0.test/r2.html", "http://h0.test/x.html"),
      page("http://h0.test/x.html", Nil))
    val t = assertParity(corpus, "chain-chain")
    assert(t.aliases.count() == 1)
  }

  test("redirect cycle a->b->a aborts at the revisit (reference dup semantics)") {
    val corpus = Seq(
      page(seed, Seq("http://h0.test/a.html")),
      redirect("http://h0.test/a.html", "http://h0.test/b.html"),
      redirect("http://h0.test/b.html", "http://h0.test/a.html"))
    assertParity(corpus, "cycle")
  }

  test("self-redirect aborts immediately") {
    val corpus = Seq(
      page(seed, Seq("http://h0.test/a.html")),
      redirect("http://h0.test/a.html", "http://h0.test/a.html"))
    assertParity(corpus, "self")
  }

  test("3-hop chain: aliases in hop order, final page spidered at chain position") {
    val corpus = Seq(
      page(seed, Seq("http://h0.test/r.html", "http://h0.test/z.html")),
      redirect("http://h0.test/r.html", "http://h0.test/m1.html"),
      redirect("http://h0.test/m1.html", "http://h0.test/m2.html"),
      redirect("http://h0.test/m2.html", "http://h0.test/final.html"),
      page("http://h0.test/final.html", Seq("http://h0.test/deep.html")),
      page("http://h0.test/z.html", Nil),
      page("http://h0.test/deep.html", Nil))
    val t = assertParity(corpus, "3hop")
    assert(t.aliases.count() == 3)
  }

  test("temporal failure mid-chain: retry dup-aborts on the first attempt's alias") {
    // r redirects to flaky (fails on attempt 0): chain attempt 0 aliases
    // flaky then TIMEOUTs -> retry of r; the retry's hop finds flaky
    // already seen -> DuplicateUrlWarning (reference behavior)
    val corpus = Seq(
      page(seed, Seq("http://h0.test/r.html")),
      redirect("http://h0.test/r.html", "http://h0.test/flaky.html"),
      CorpusDoc("http://h0.test/flaky.html",
        Seq(Span("text", "x", "", 0), Span("link", "http://h0.test/x.html", "", 10)),
        fail_attempts = 1),
      page("http://h0.test/x.html", Nil))
    assertParity(corpus, "temporal-chain")
  }

  /** Seed -> n 1-hop redirect chains, each to a unique target page. */
  private def redirectHeavy(n: Int): Seq[CorpusDoc] = {
    val rs = (0 until n).map(i => s"http://h${i % 4}.test/r$i.html")
    page(seed, rs) +:
      (0 until n).flatMap { i =>
        Seq(redirect(rs(i), s"http://h${i % 4}.test/t$i.html"),
          page(s"http://h${i % 4}.test/t$i.html", Seq(seed)))
      }
  }

  test("jobs per crawl scale with chain LENGTH, not redirect COUNT") {
    // 30%+ redirect pages; same wave structure, 4x the redirect records.
    // The round-1 engine ran O(redirects) jobs per wave (collect + per-hop
    // corpus scans + per-segment ranking); the resolver runs a fixed DAG.
    val small = assertParityJobs(redirectHeavy(6), "jobs-6")
    val large = assertParityJobs(redirectHeavy(24), "jobs-24")
    assert(large <= small + 12,
      s"job count must not scale with redirect count: 6 redirects -> $small jobs, " +
        s"24 redirects -> $large jobs")
  }

  private def assertParityJobs(corpus: Seq[CorpusDoc], clue: String): Int = {
    val rules = Seq(RecipeRule(spider = Some(".*"), depth = 3))
    val oracle = RefCrawler.run(corpus, seed, rules)
    var engine: CrawlTables = null
    val jobs = SparkTestSession.recordJobs {
      engine = new CrawlEngine(spark, corpus.toDF, seed, rules).run()
      engine.seen.count()
    }._2.size
    val eSeen = engine.seen.orderBy("seq")
      .select("url", "wave").as[(String, Int)].collect.toSeq
    assert(eSeen == oracle.seen.map(s => (s.url, s.wave)), s"$clue: seen order")
    jobs
  }
}
