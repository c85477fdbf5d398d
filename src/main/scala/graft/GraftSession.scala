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
 *    work: execution profiles (the crawl's small-wave profile, q14's small
 *    corpus, the staged streaming runs, q56's runtime filter) scope their
 *    settings to the actions they shape and leave the session as found.
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
