package graft

import org.apache.spark.sql.SparkSession

/**
 * The one home of graft's Spark configuration.
 *
 *  - `builder` is the session factory: every graft main and the shared
 *    test session start from it, so the base config list (UTC session
 *    time zone, UI off, the caller's shuffle partition count, one log
 *    level) is written once. Callers add only what is theirs (`Main`'s
 *    optimizer extensions).
 *  - `withConf` is the one way to change a runtime conf for a stretch of
 *    work: execution profiles (`SmallData`, the staged streaming runs,
 *    q56's runtime filter) scope their settings to the actions they shape
 *    and leave the session as found.
 *  - `SmallData` is the one small-data profile: the crawl's waves of at
 *    most `SmallRankRows` rows and every registered query whose input
 *    tables hold at most `SparkEntry.SmallInputRows` rows run under it.
 */
object GraftSession {

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")

  /** The small-data profile. A small input is pure driver and stage
    * latency, so the plan is shaped for dispatch cost, not for volume:
    *  - AQE off: its per-stage re-optimization jobs cost more than they
    *    save on a few thousand rows (~30% of a fixture crawl's wall time);
    *  - 4 shuffle partitions;
    *  - no broadcast joins: each broadcast is one extra async job per join
    *    per action (exchange reuse is within one query only), so the joins
    *    run as inline hash joins and the work rides the action's own job
    *    (~30 of the fixture crawl's 45 jobs were broadcast builds);
    *  - interpreted execution: 60-75% of a small crawl wave's floor was
    *    driver time spent in whole-stage codegen and expression compiles
    *    that a small input can never amortize (wave plans embed per-wave
    *    literals, so the codegen cache misses every wave; interpreted,
    *    the fixture crawl went from 7.3 s to ~4 s steady). A 13-query
    *    mix over 800 rows compiled 212-237 classes per warm pass, more
    *    than the 100-entry codegen cache holds, so nothing was reused;
    *    interpreted, a warm pass compiles none.
    * Big inputs keep the session's settings: AQE's coalescing and skew
    * handling and generated code are the right plan at scale. */
  val SmallData: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** Runs `body` with `conf` set on the session, then restores every key
    * to what it was at entry on every exit path: keys that were set get
    * their value back, keys that were unset are unset again (so a scope
    * never leaves a default pinned as an explicit setting). Scopes nest. */
  def withConf[T](spark: SparkSession, conf: Map[String, String])(body: => T): T = {
    val before = spark.conf.getAll
    val saved = conf.keys.map(k => k -> before.get(k))
    try {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
