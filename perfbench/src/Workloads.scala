package perfbench

import java.nio.file.{Files, Path}
import graft.engine.{CrawlEngine, CrawlTables, Scheduler}
import graft.extract.Extract
import graft.fixtures.FixtureCorpus
import graft.functions.{CanonicalHost, CanonicalUrl, RewriteUrl}
import graft.model._
import graft.oracle.RefCrawler
import graft.seenset.{SeenFilter, SeenSet}
import graft.tableio.TableIO
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** What one op hands back: rows it processed and per-op layer figures that
  * the traced run averages. */
final case class OpOut(rows: Long, layer: Map[String, Double] = Map.empty)

/** One workload: inputs made from the seed, one op run in a closed loop,
  * and an output check per op. `build` is repeated during set-up (its
  * median is part of `setup_s`); `warmupOps` ops run before timing. */
trait Workload {
  def warmupOps: Int
  def build(): Unit
  def release(): Unit
  /** Digest of the generated inputs (the self test compares two builds). */
  def inputDigest: String
  /** Untimed per-op preparation (a fresh corpus, the oracle result). */
  def prepare(op: Int): Unit = ()
  def run(op: Int, tr: Tracer): OpOut
  /** Untimed output check of the last op: None when its output is correct. */
  def check(op: Int): Option[String]
  /** Digest of the last op's output, taken by `check` (the same inputs
    * must give the same digest). */
  def outputDigest: String
  /** Traced run only: layer figures of the last op that need extra Spark
    * jobs, taken after its timed part. Averaged over the traced ops. */
  def opLayer(tr: Tracer): Map[String, Double] = Map.empty
  /** Isolated layer replays for the traced run (not additive with op time). */
  def replays(tr: Tracer): Map[String, Double] = Map.empty
}

object Workloads {
  val names: Seq[String] =
    Seq("fixture_crawl", "tree_crawl", "resume_crawl", "frontier_wave", "dedup_queries")

  /** `small` shrinks every input for the self test. */
  def apply(name: String, spark: SparkSession, seed: Long, work: Path,
            small: Boolean = false): Workload = name match {
    case "fixture_crawl" => new FixtureCrawl(spark, seed)
    case "tree_crawl" => new TreeCrawl(spark, seed, if (small) 6 else 33, work, resume = false)
    case "resume_crawl" => new TreeCrawl(spark, seed, if (small) 6 else 33, work, resume = true)
    case "frontier_wave" => new FrontierWave(spark, seed, if (small) 20000L else 400000L)
    case "dedup_queries" => new DedupQueries(spark, if (small) 120 else DedupQueries.Docs, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** splitmix64: derives independent per-op seeds from the workload seed. */
  def mix(seed: Long, i: Long): Long = {
    var z = seed + (i + 1) * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def digestOf(parts: Iterable[Any]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((String.valueOf(p) + "\u0001").getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(p.toFile)
  }

  /** Largest partition over the median partition, in rows. */
  def hotPartitionRatio(df: DataFrame): Double = {
    val parts = df.groupBy(spark_partition_id()).count().collect().map(_.getLong(1)).sorted
    if (parts.isEmpty) 0.0 else parts.last.toDouble / math.max(1L, parts(parts.length / 2))
  }

  /** RedirectResolver figures from one fixture crawl (the tree web and the
    * frontier have no redirects); the crawl must match RefCrawler. */
  def redirectReplay(spark: SparkSession, seed: Long, tr: Tracer): Map[String, Double] = {
    val fx = new FixtureCrawl(spark, seed)
    fx.prepare(0)
    def phases = graft.engine.WavePhase.snapshot.map(r => r.name -> r).toMap
    val before = phases
    tr.span("redirectresolver.fixture_crawl")(fx.run(0, new Tracer(false)))
    val after = phases
    fx.check(0).foreach(msg => throw new IllegalStateException(s"fixture replay: $msg"))
    def d(p: String, f: graft.engine.WavePhase.PhaseRow => Double) =
      after.get(p).map(f).getOrElse(0.0) - before.get(p).map(f).getOrElse(0.0)
    val levels = d("rr_level", _.calls.toDouble)
    Map("redirectresolver.analyze_s" -> d("redirect_analyze", _.wallSec),
      "redirectresolver.fixpoint_rounds" -> (levels + d("rr_fixpoint", _.calls.toDouble)),
      "redirectresolver.level_s" -> (if (levels == 0) 0.0 else d("rr_level", _.wallSec) / levels))
  }

  /** The robots share of a crawl, and the politeness dequeue replayed over
    * its seen table with the given per-host budget. */
  def schedulerReplay(t: CrawlTables, budget: Int, tr: Tracer): Map[String, Double] = {
    val blocked = t.robotsBlocked.count()
    val seen = t.seen.select(col("url"), col("canonicalHost").as("host"), col("seq"))
    val chunk = Scheduler.dequeueChunkOnly(seen, budget, saltBuckets = 16)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (n, sec) = time(tr.span("scheduler.dequeue")(chunk.count()))
    val seenN = seen.count()
    val ratio = hotPartitionRatio(chunk)
    chunk.unpersist(false)
    Map("scheduler.robots_blocked_frac" -> blocked.toDouble / (blocked + seenN),
      "scheduler.dequeue_s" -> sec, "scheduler.chunk_rows" -> n.toDouble,
      "scheduler.rows_per_s" -> seenN / sec, "scheduler.hot_partition_ratio" -> ratio)
  }

  /** Order-free row checksum; 40-bit terms keep the sum from overflowing. */
  def hashSum(cols: Column*): Column = sum(shiftright(xxhash64(cols: _*), 24))

  def native(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    GraftColumnBridge.column(e)
  def exprOf(c: Column) = GraftColumnBridge.expression(c)

  /** Isolated URL-rewrite replay: RewriteUrl, then CanonicalUrl and
    * CanonicalHost of the result, over (origin, raw url) pairs. */
  def rewriteReplay(pairs: DataFrame, tr: Tracer): Map[String, Double] = {
    val rewritten = pairs.select(native(RewriteUrl(exprOf(col("origin")), exprOf(col("raw")))).as("u"))
    val projected = rewritten.select(col("u"),
      native(CanonicalUrl(exprOf(col("u")))).as("cu"),
      native(CanonicalHost(exprOf(col("u")))).as("ch"))
    val (row, sec) = time(tr.span("urlrewrite.canon") {
      projected.agg(count(lit(1)), count(col("u")),
        hashSum(col("cu"), col("ch"))).head()
    })
    val n = row.getLong(0)
    Map("urlrewrite.canon_s" -> sec, "urlrewrite.urls_per_s" -> n / sec,
      "urlrewrite.dropped_frac" -> (if (n == 0) 0.0 else (n - row.getLong(1)).toDouble / n))
  }

  /** Isolated sketch replay: rebuild a bank from `seen`, split `cands` by
    * it, and refine the flagged side with the exact anti-join. */
  def sketchReplay(spark: SparkSession, seen: DataFrame, cands: DataFrame,
                   tr: Tracer): Map[String, Double] = {
    val sketch = SeenFilter.empty
    val (_, rebuildS) = time(tr.span("seenset.rebuild")(
      sketch.rebuildFrom(spark, seen, "url", "host")))
    val c = cands.persist(StorageLevel.MEMORY_AND_DISK)
    val total = c.count()
    val (cleared, flagged) = sketch.split(spark, c, "url", "host")
    val clearedN = tr.span("seenset.split")(cleared.count())
    val flaggedN = total - clearedN
    val fpN = tr.span("seenset.exact")(
      flagged.join(seen.select("url"), Seq("url"), "left_anti").count())
    val cache = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val (_, filterS) = time(tr.span("seenset.filter_new")(
      SeenSet.filterNew(spark, c, seen, "url", Some(sketch), register = cache += _).count()))
    cache.foreach(_.unpersist(false)); c.unpersist(false)
    Map("seenset.filter_new_s" -> filterS, "seenset.rows_per_s" -> total / filterS,
      "seenset.sketch_cleared_frac" -> (if (total == 0) 0.0 else clearedN.toDouble / total),
      "seenset.sketch_fp_rate" -> (if (flaggedN == 0) 0.0 else fpN.toDouble / flaggedN),
      "seenset.sketch_bytes" -> sketch.serialized.map(_.length.toDouble).getOrElse(0.0),
      "seenset.rebuild_s" -> rebuildS)
  }
}

import Workloads._

/** The `LargeParitySpec` web: 8 hosts, hot host x3, 3 redirects, 3 flaky
  * pages, an ftp host and quirky URLs, crawled under a per-host budget of
  * 4 and a few robots rules. Each op crawls a fresh corpus whose seed
  * derives from the workload seed; its output must equal `RefCrawler`'s on
  * six surfaces. */
final class FixtureCrawl(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._

  val warmupOps = 1
  private val rules = Seq(RecipeRule(spider = Some(".*"),
    fetch = Some("(?i).*\\.(txt|bz2)$"),
    dump = Some(".*page[0-2]\\.html$"), depth = 3))
  private val config = CrawlConfig(perHostBudget = Some(4), robots = Seq(
    RobotsRule("host2.test", "/d2/page3", allow = false),
    RobotsRule("host3.test", "/d3/", allow = false),
    RobotsRule("host3.test", "/d3/page1", allow = true),
    RobotsRule("host5.test", "/*page4.html$", allow = false)))

  private def params(op: Int) = FixtureCorpus.Params(hosts = 8, pagesPerHost = 6,
    linksPerPage = 5, redirectPages = 3, failPages = 3, hotHostFactor = 3,
    quirkEvery = 3, seed = mix(seed, op))

  private var corpus: Seq[CorpusDoc] = Nil
  private var corpusDf: DataFrame = _
  private var oracle: RefCrawler.CrawlResult = _

  def build(): Unit = { corpus = FixtureCorpus.generate(params(-1)) }
  def release(): Unit = ()
  def inputDigest: String = digestOf(corpus)

  override def prepare(op: Int): Unit = {
    val p = params(op)
    corpus = FixtureCorpus.generate(p)
    corpusDf = corpus.toDF
    oracle = RefCrawler.run(corpus, FixtureCorpus.seedUrl(p), rules, config = config)
  }

  private type Surfaces = (Seq[(String, Int)], Seq[(Int, String, Int, Boolean)],
    Seq[String], Set[(String, String, Int)], Set[(String, String, Int)],
    Seq[(Int, String, Int, Int, Int)])
  private var last: Surfaces = _
  private var lastTables: CrawlTables = _

  def run(op: Int, tr: Tracer): OpOut = {
    val t = tr.span("crawlengine.run")(new CrawlEngine(spark, corpusDf,
      FixtureCorpus.seedUrl(params(op)), rules, config = config, useSketch = true).run())
    last = tr.span("crawlengine.collect")(surfaces(t))
    lastTables = t
    OpOut(last._1.size)
  }

  private def surfaces(t: CrawlTables): Surfaces = (
      t.seen.orderBy("seq").select("url", "wave").as[(String, Int)].collect().toSeq,
      t.processed.orderBy("ord").select("wave", "url", "mode", "retry")
        .as[(Int, String, Int, Boolean)].collect().toSeq,
      t.dump.orderBy("seq").select("url").as[String].collect().toSeq,
      t.edges.select("src", "dst", "wave").as[(String, String, Int)].collect().toSet,
      t.aliases.select("canonicalUrl", "aliasUrl", "wave")
        .as[(String, String, Int)].collect().toSet,
      t.fetchLog.select("wave", "url", "mode", "errorCode", "attempt")
        .as[(Int, String, Int, Int, Int)].collect().toSeq.sorted)

  def outputDigest: String = digestOf(Seq(last))

  override def opLayer(tr: Tracer): Map[String, Double] = schedulerReplay(lastTables, 4, tr)

  def check(op: Int): Option[String] = {
    val o = oracle
    val expect: Surfaces = (o.seen.map(s => (s.url, s.wave)),
      o.processed.map(p => (p.wave, p.url, p.mode, p.retry)), o.dump,
      o.edges.map { case ((s, d), w) => (s, d, w) }.toSet, o.aliases.toSet,
      o.fetchLog.map(l => (l.wave, l.url, l.mode, l.errorCode, l.attempt)).sorted)
    val names = Seq("seen", "processing order", "dump order", "edges", "aliases", "fetch log")
    names.zip(last.productIterator.toSeq.zip(expect.productIterator.toSeq))
      .collectFirst { case (n, (a, b)) if a != b => s"fixture op $op: $n differs from RefCrawler" }
  }

  /** Extract, rewrite and the sketch over the last op's corpus and crawl. */
  override def replays(tr: Tracer): Map[String, Double] = {
    val found = Extract.findall(corpusDf.select("doc_id", "spans"))
    val (n, sec) = time(tr.span("extract.findall")(found.count()))
    val seen = lastTables.seen.select(col("url"), col("canonicalHost").as("host"))
    val links = found.select(col("url"))
      .withColumn("host", native(CanonicalHost(exprOf(col("url")))))
    Map("extract.findall_s" -> sec, "extract.links_per_s" -> n / sec) ++
      rewriteReplay(found.select(col("doc_id").as("origin"), col("url").as("raw")), tr) ++
      sketchReplay(spark, seen, links, tr)
  }
}

/** The synthetic tree web of `graft.Bench`, scaled: page k links its children
  * k*fanout+1 .. k*fanout+fanout on ~997 hosts, spidered to depth 3, sketch
  * on, no budget. The first two waves are small (driver-latency regime),
  * the last two big (job-bound). Crawled in memory, or (resume) with a
  * TableIO commit after every wave, the engine dropped after wave 2 and a
  * fresh engine resuming to the end. The seen table in seq order must equal
  * the BFS order urlOf(0 .. N-1); a resumed crawl's table row counts must
  * also equal an uninterrupted crawl's. */
final class TreeCrawl(spark: SparkSession, seed: Long, fanout: Int, work: Path,
                      resume: Boolean) extends Workload {
  import spark.implicits._

  private val depth = 3
  val warmupOps: Int = if (resume) 2 else 3
  private val rules = Seq(RecipeRule(spider = Some(".*"), depth = depth))
  private val total = (0 to depth).map(d => math.pow(fanout, d).toLong).sum
  private def urlOf(id: Column): Column =
    concat(lit("http://host"), pmod(xxhash64(id, lit(seed)), lit(997)),
      lit(".test/p"), id, lit(".html"))

  private var corpus: DataFrame = _
  private lazy val expected: Seq[String] =
    spark.range(total).select(urlOf(col("id"))).as[String].collect().toSeq
  private lazy val seedUrl = expected.head
  private var expectedCounts: Seq[Long] = Nil

  def build(): Unit = {
    val pages = (0 until depth).map(d => math.pow(fanout, d).toLong).sum
    corpus = spark.range(pages).select(
      urlOf(col("id")).as("doc_id"),
      transform(sequence(lit(1), lit(fanout)), j =>
        struct(lit("link").as("kind"), urlOf(col("id") * fanout + j).as("text"),
          lit("").as("media_ref"), (j * 10).cast("int").as("offset"))).as("spans"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    corpus.count()
  }
  def release(): Unit = if (corpus != null) corpus.unpersist(true)
  def inputDigest: String =
    digestOf(corpus.select(hashSum(col("doc_id"), to_json(col("spans")))).as[Long].collect() ++ expected)

  private def engine(checkpoint: Option[TableIO] = None, stopAfter: Option[Int] = None) =
    new CrawlEngine(spark, corpus, seedUrl, rules, useSketch = true,
      checkpoint = checkpoint, stopAfterWaves = stopAfter)

  private def counts(t: CrawlTables): Seq[Long] =
    Seq(t.seen, t.processed, t.dump, t.edges, t.aliases, t.fetchLog, t.fetched).map(_.count())

  /** The first (warm-up) op of a resume run also crawls uninterrupted once:
    * its table row counts are what every resumed crawl must reproduce. */
  override def prepare(op: Int): Unit =
    if (resume && expectedCounts.isEmpty) expectedCounts = counts(engine().run())

  private var lastTables: CrawlTables = _
  private var lastRows = 0L
  private var lastSeen: Seq[String] = Nil
  private var lastCounts: Seq[Long] = Nil
  private var lastIo: (TableIO, Path) = _

  def run(op: Int, tr: Tracer): OpOut =
    if (!resume) {
      lastTables = tr.span("crawlengine.run")(engine().run())
      lastRows = tr.span("crawlengine.count")(lastTables.seen.count())
      OpOut(lastRows)
    } else {
      val layer = resumedCrawl(tr)
      OpOut(lastRows, layer)
    }

  /** Commit per wave, drop after wave 2, resume with a fresh engine. */
  private def resumedCrawl(tr: Tracer): Map[String, Double] = {
    if (lastIo != null) deleteTree(lastIo._2)
    val dir = Files.createTempDirectory(work, "ckpt-")
    val eng1 = engine(Some(new TableIO(dir.toString, spark)), Some(2))
    tr.span("crawlengine.run")(eng1.run())
    val io = new TableIO(dir.toString, spark)
    val eng2 = engine(Some(io))
    val (_, resumeS) = time(tr.span("crawlengine.resume") {
      lastTables = eng2.resume(); lastRows = lastTables.seen.count()
    })
    val (c1, n1) = eng1.commitStats
    val (c2, n2) = eng2.commitStats
    lastIo = (io, dir)
    Map("_commit_s" -> (c1 + c2),
      "tableio.commit_s_per_wave" -> (c1 + c2) / math.max(1, n1 + n2),
      "tableio.commits" -> (n1 + n2).toDouble, "tableio.resume_s" -> resumeS)
  }

  private def snapshotFigures(tr: Tracer): Map[String, Double] = {
    val io = lastIo._1
    val files = io.latest.get.tables.values.flatMap(_.files)
    val (_, readS) = time(tr.span("tableio.read_latest") {
      val s = io.latest.get
      s.tables.keys.foreach(k => io.table(s, k).count())
    })
    Map("tableio.bytes_per_url" -> files.map(_.bytes).sum.toDouble / lastRows,
      "tableio.files_per_snapshot" -> files.size.toDouble, "tableio.read_latest_s" -> readS)
  }

  def outputDigest: String = digestOf(lastSeen ++ lastCounts)

  override def opLayer(tr: Tracer): Map[String, Double] =
    schedulerReplay(lastTables, 64, tr) ++ (if (resume) snapshotFigures(tr) else Map.empty)

  def check(op: Int): Option[String] = {
    lastSeen = lastTables.seen.orderBy("seq").select("url").as[String].collect().toSeq
    if (resume) lastCounts = counts(lastTables)
    if (lastSeen != expected)
      Some(s"tree op $op: seen order differs from BFS order (${lastSeen.size} vs $total)")
    else if (resume && lastCounts != expectedCounts)
      Some(s"resume op $op: table rows $lastCounts vs uninterrupted $expectedCounts")
    else None
  }

  /** Extract and rewrite over the fetched pages; the sketch over the leaf
    * level against the levels above (every candidate is new: 0% overlap);
    * for the in-memory crawl, the resume leg once (TableIO); and one
    * fixture crawl for RedirectResolver, which the tree web never calls. */
  override def replays(tr: Tracer): Map[String, Double] = {
    val found = Extract.findall(corpus)
    val (n, sec) = time(tr.span("extract.findall")(found.count()))
    val inner = total - math.pow(fanout, depth).toLong
    val seen = lastTables.seen.select(col("url"), col("canonicalHost").as("host"), col("seq"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val out = Map("extract.findall_s" -> sec, "extract.links_per_s" -> n / sec) ++
      rewriteReplay(found.select(col("doc_id").as("origin"), col("url").as("raw")), tr) ++
      sketchReplay(spark, seen.filter(col("seq") < inner).select("url", "host"),
        seen.filter(col("seq") >= inner).select("url", "host"), tr)
    seen.unpersist(false)
    val tableio = if (resume) Map.empty[String, Double] else {
      val layer = resumedCrawl(tr)
      check(-1).foreach(msg => throw new IllegalStateException(s"resumed crawl: $msg"))
      layer ++ snapshotFigures(tr)
    }
    out ++ tableio ++ redirectReplay(spark, seed, tr)
  }
}

/** One north-rule wave: politeness dequeue (budget 2000 per host) over a
  * frontier stored by (host, salt) with ~20% of rows on one hot host,
  * CanonicalUrl, and the sketch-fronted SeenSet.filterNew against a seen
  * table of half the frontier's ids (50% overlap), stored sorted by url.
  * Survivors must equal the exact anti-join computed once without the
  * sketch. */
final class FrontierWave(spark: SparkSession, seed: Long, n: Long) extends Workload {
  import spark.implicits._

  val warmupOps = 2
  private val budget = 2000
  private def hostId(id: Column): Column =
    when(pmod(id, lit(5)) === 0, lit(0L))
      .otherwise(pmod(xxhash64(id, lit(seed)), lit(999L)) + 1)
  private def rows(ids: org.apache.spark.sql.Dataset[_]): DataFrame = ids.toDF("id").select(
    concat(lit("http://host"), hostId(col("id")), lit(".test/d/p"), col("id"), lit(".html")).as("url"),
    concat(lit("host"), hostId(col("id")), lit(".test")).as("host"), col("id").as("seq"))

  private var frontier: DataFrame = _
  private var seen: DataFrame = _
  private var sketch: SeenFilter = _
  private var exact: (Long, Long) = _

  def build(): Unit = {
    frontier = rows(spark.range(n)).withColumn("_salt", Scheduler.saltCol(16))
      .repartition(col("host"), col("_salt")).persist(StorageLevel.MEMORY_AND_DISK)
    seen = rows(spark.range(0, n, 2)).drop("seq").repartition(col("url"))
      .sortWithinPartitions("url").persist(StorageLevel.MEMORY_AND_DISK)
    frontier.count(); seen.count()
    sketch = SeenFilter.empty
    sketch.rebuildFrom(spark, seen, "url", "host")
  }
  def release(): Unit = {
    if (frontier != null) frontier.unpersist(true)
    if (seen != null) seen.unpersist(true)
  }
  def inputDigest: String = digestOf(Seq(frontier, seen).map(
    _.select(count(lit(1)), hashSum(col("url"), col("host"))).as[(Long, Long)].head()))

  private def canon(chunk: DataFrame): DataFrame = chunk.select(col("url"),
    native(CanonicalUrl(exprOf(col("url")))).as("canonicalUrl"), col("host"), col("seq"))
  private def digest(df: DataFrame): (Long, Long) =
    df.agg(count(lit(1)), coalesce(hashSum(col("url"), col("canonicalUrl")), lit(0L)))
      .as[(Long, Long)].head()

  override def prepare(op: Int): Unit = if (exact == null) {
    val chunk = canon(Scheduler.dequeueChunkOnly(frontier, budget, saltBuckets = 16))
    exact = digest(chunk.join(seen.select("url"), Seq("url"), "left_anti"))
  }

  private var last: (Long, Long) = _

  def run(op: Int, tr: Tracer): OpOut = {
    val cache = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    last = tr.span("frontier.wave") {
      val chunk = tr.span("scheduler.dequeueChunkOnly")(
        Scheduler.dequeueChunkOnly(frontier, budget, saltBuckets = 16))
      val survivors = tr.span("seenset.filterNew")(
        SeenSet.filterNew(spark, canon(chunk), seen, "url", Some(sketch), register = cache += _))
      tr.span("spark.collect")(digest(survivors))
    }
    cache.foreach(_.unpersist(false))
    OpOut(n)
  }

  def outputDigest: String = digestOf(Seq(last))

  def check(op: Int): Option[String] =
    if (last == exact) None
    else Some(s"frontier op $op: survivors $last vs exact anti-join $exact")

  override def replays(tr: Tracer): Map[String, Double] = {
    val chunk = Scheduler.dequeueChunkOnly(frontier, budget, saltBuckets = 16)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (chunkN, sec) = time(tr.span("scheduler.dequeue")(chunk.count()))
    val out = Map("scheduler.dequeue_s" -> sec, "scheduler.rows_per_s" -> n / sec,
      "scheduler.chunk_rows" -> chunkN.toDouble,
      "scheduler.hot_partition_ratio" -> hotPartitionRatio(chunk)) ++
      rewriteReplay(chunk.select(col("url").as("origin"), col("url").as("raw")), tr) ++
      sketchReplay(spark, seen, canon(chunk), tr)
    chunk.unpersist(false)
    out
  }
}
