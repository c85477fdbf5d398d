package graft.engine

import graft.model.RobotsRule
import graft.urlcanon.PyUrl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Frontier scheduler (north rule): per-host politeness budgets, robots
 * rules, priority dequeue over a host-hash-partitioned frontier, with
 * salted-key skew mitigation for hot hosts (SURVEY §4.3.2-3).
 *
 * Parity configuration — budget=∞, no robots, FIFO priority — degrades to
 * the reference's plain queue order (its only politeness is a global
 * inter-request sleep, `spiderfetch.py:186-188`).
 */
object Scheduler {

  /** robots.txt admission (RFC 9309): the most specific (most-octets)
    * matching pattern wins, Allow wins ties, no match => allowed — the SQL
    * twin of Robots.decide. Robots is a small broadcast table (J-side);
    * literal-prefix rules keep the codegen'd `startsWith` fast path and
    * only rules with `*`/`$` take the regexp_like slow path (round-4
    * verdict #2; rule patterns are pre-translated driver-side). */
  def robotsFilter(spark: SparkSession, queue: DataFrame,
                   robots: Seq[RobotsRule]): (DataFrame, DataFrame) = {
    if (robots.isEmpty) return (queue, queue.limit(0))
    import spark.implicits._
    val robotsDf = robots
      .map(r => (r.host, r.pathPrefix, r.allow,
        if (Robots.isPattern(r.pathPrefix)) Robots.toRegex(r.pathPrefix) else null))
      .toDF("r_host", "r_prefix", "r_allow", "r_regex")
    // codegen'd path?query extraction (round-1 verdict #9: no UDF on the
    // admission path — UrlPathQuery compiles to a static call); robots
    // patterns match against path-and-query per RFC 9309
    import org.apache.spark.sql.GraftColumnBridge
    val withPath = queue.withColumn("_path",
      GraftColumnBridge.column(
        graft.functions.UrlPathQuery(GraftColumnBridge.expression(col("url")))))
    val matchCond = when(col("r_regex").isNotNull,
        regexp_like(col("_path"), col("r_regex")))
      .otherwise(col("_path").startsWith(col("r_prefix")))
    val joined = withPath.join(
      broadcast(robotsDf),
      col("host") === col("r_host") && matchCond,
      "left")
    // most specific match decides; Allow wins equal-length ties (patterns
    // themselves are distinct — parse dedupes), mirroring Robots.decide
    val w = Window.partitionBy(col("url"), col("seq"))
      .orderBy(length(col("r_prefix")).desc_nulls_last,
        col("r_allow").desc_nulls_last)
    val decided = joined
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .withColumn("_allowed", coalesce(col("r_allow"), lit(true)))
    val cols = queue.columns.map(col)
    (decided.filter(col("_allowed")).select(cols: _*),
     decided.filter(!col("_allowed")).select(cols: _*))
  }

  /**
   * Politeness dequeue: stable first-k-per-host chunk of the pending
   * frontier, FIFO (seq) priority within host. Returns (chunk, rest).
   *
   * Skew-safe two-phase top-k (SURVEY §4.3.3): phase 1 ranks within
   * (host, salt) and keeps ≤ k per salt slice — an EXACT superset of the
   * per-host top-k, so a hot host fans across `saltBuckets` tasks instead
   * of serializing one; phase 2 ranks the ≤ k·saltBuckets survivors per
   * host exactly. Rest = pending ∖ chunk (anti-join on the unique seq).
   */
  /** Salt column derivation — deterministic from the url, so a stored
    * frontier can be pre-partitioned by (host, _salt) and the phase-1
    * window needs no shuffle at all. */
  def saltCol(saltBuckets: Int): org.apache.spark.sql.Column =
    pmod(hash(col("url")), lit(math.max(saltBuckets, 1)))

  /** Late string materialization (round-1 verdict #5): the two ranking
    * windows see ONLY (host, _salt, priority, seq) — URL strings never
    * ride the window sorts or the phase-2 exchange, cutting shuffled
    * bytes/URL ~5x. The winning seq ids (budget x hosts rows) broadcast
    * back as a semi-join, so the wide frontier rows are filtered IN PLACE
    * on their storage partitioning with no shuffle at all. */
  def dequeueChunk(pending: DataFrame, perHostBudget: Int,
                   priority: String = "seq",
                   saltBuckets: Int = 16,
                   materializeIds: Boolean = true,
                   register: DataFrame => Unit = _ => ()): (DataFrame, DataFrame) = {
    val w1 = Window.partitionBy(col("host"), col("_salt")).orderBy(col(priority))
    val w2 = Window.partitionBy(col("host")).orderBy(col(priority))
    val salted =
      if (pending.columns.contains("_salt")) pending // pre-salted storage layout
      else pending.withColumn("_salt", saltCol(saltBuckets))
    val slimCols = (Seq("host", "_salt", "seq") ++
      (if (priority == "seq") Nil else Seq(priority))).distinct
    // explicit partition count on the phase-2 exchange: AQE would coalesce
    // this (small) shuffle to one partition and serialize the merge window
    val nPart = pending.sparkSession.sessionState.conf.numShufflePartitions
    val chunkIds = salted
      .select(slimCols.map(col): _*)
      .withColumn("_srk", row_number().over(w1))
      .filter(col("_srk") <= perHostBudget)      // exact superset of top-k
      .repartition(nPart, col("host"))
      .withColumn("_hrk", row_number().over(w2)) // exact rank on the pruned set
      .filter(col("_hrk") <= perHostBudget)
      .select("seq")
    // cache only when the caller consumes BOTH sides in separate actions
    // (engine budget loop); single-action callers would just leak storage.
    // `register` hands the cached frame to the caller's unpersist ledger
    // (the engine's per-wave pin list) so the id cache is released once
    // chunk+rest are materialized.
    val cached = if (materializeIds) { val c = chunkIds.persist(); register(c); c }
      else chunkIds
    val ids = broadcast(cached)
    val chunk = pending.join(ids, Seq("seq"), "left_semi")
    val rest = pending.join(ids, Seq("seq"), "left_anti")
    (chunk, rest)
  }

  /** Single-action variant: no id caching (nothing leaks into storage). */
  def dequeueChunkOnly(pending: DataFrame, perHostBudget: Int,
                       saltBuckets: Int = 16): DataFrame =
    dequeueChunk(pending, perHostBudget, saltBuckets = saltBuckets,
      materializeIds = false)._1

  /**
   * Scale-path dequeue ordering: repartition by (host, salt) so one hot
   * host fans across `saltBuckets` partitions instead of serializing one
   * (SURVEY §4.3.3), then sort within partitions by priority. Use for
   * throughput jobs where global emission order is not required; AQE's
   * skew handling covers the fetch join itself.
   */
  def dequeueAllSalted(frontier: DataFrame, saltBuckets: Int,
                       numPartitions: Int, priority: String = "seq"): DataFrame = {
    val salted = frontier.withColumn(
      "_salt", pmod(hash(col("url")), lit(math.max(saltBuckets, 1))))
    salted
      .repartition(numPartitions, col("host"), col("_salt"))
      .sortWithinPartitions(col(priority))
      .drop("_salt")
  }
}
