package graft

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Physical-plan hygiene gates (SURVEY §4.2): these assertions pin the
 * plan shapes that matter at 100 TB — column pruning into the parquet
 * scan, predicate pushdown, broadcast of small dims, partial aggregation,
 * TakeOrderedAndProject for top-k, and no cartesian products anywhere.
 * A regression here is a performance bug even if results stay correct.
 */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("column pruning: q9 scans only doc_id+text, not the whole table") {
    val p = plan(Queries.q9Tokens(spark, sf))
    val readSchema = "ReadSchema: struct<doc_id:bigint,text:string>"
    assert(p.contains(readSchema), s"expected pruned scan; got:\n$p")
    assert(!p.contains("n_chars"), "n_chars must not be read")
  }

  test("predicate pushdown: filters reach the parquet scan") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]"),
      s"filter not pushed:\n$p")
  }

  test("small dims broadcast in q2 (no shuffle of nation/region)") {
    val p = plan(Queries.q2JoinRevenue(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("top-k compiles to TakeOrderedAndProject (q3)") {
    val p = plan(Queries.q3TopkCustomers(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"top-k not fused:\n$p")
  }

  test("partial aggregation (map-side combine) in q1") {
    val p = plan(Queries.q1Agg(spark, sf))
    assert(p.contains("HashAggregate(keys=[l_returnflag"),
      s"expected hash aggregate:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial+final aggregation")
  }

  test("anti-join dedup uses a real join, not a cartesian (q5)") {
    val p = plan(Queries.q5AntiJoin(spark, sf))
    assert(p.contains("LeftAnti"), s"expected left-anti join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("whole-stage codegen covers the qualify/canonicalize projections") {
    // AQE hides codegen spans until the final plan: use codegen explain mode
    val df = Queries.q10Quality(spark, sf)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(p.contains("WholeStageCodegen"), s"no codegen spans:\n$p")
  }

  test("extraction pipeline explodes without shuffle (no exchange before generate)") {
    import spark.implicits._
    val doc = graft.model.CorpusDoc("http://h/p", Seq(
      graft.model.Span("link", "http://h/a", "", 0)))
    val p = plan(graft.extract.Extract.findall(Seq(doc).toDS.toDF))
    assert(p.contains("Generate posexplode"), s"expected generate:\n$p")
    assert(!p.contains("Exchange"), s"extraction must not shuffle:\n$p")
  }

  test("politeness dequeue: two windows, no cartesian, exchanges bounded") {
    import spark.implicits._
    val frontier = spark.range(1000).select(
      concat(lit("http://h"), pmod(col("id"), lit(7)), lit("/p"), col("id")).as("url"),
      concat(lit("h"), pmod(col("id"), lit(7))).as("host"),
      col("id").as("seq"))
    val (chunk, _) = graft.engine.Scheduler.dequeueChunk(frontier, 10)
    val p = plan(chunk)
    assert("Window".r.findAllIn(p).size >= 2, s"expected 2-phase windows:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("dequeue windows see only slim columns; strings rejoin late via broadcast") {
    import spark.implicits._
    val frontier = spark.range(1000).select(
      concat(lit("http://h"), pmod(col("id"), lit(7)), lit("/p"), col("id")).as("url"),
      concat(lit("h"), pmod(col("id"), lit(7))).as("host"),
      col("id").as("seq"))
    val (chunk, _) = graft.engine.Scheduler.dequeueChunk(frontier, 10)
    val p = plan(chunk)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast id rejoin:\n$p")
    // the url column must not appear inside any Window block
    val windowBlocks = p.split("\n").filter(_.contains("Window "))
    assert(windowBlocks.forall(!_.contains("url#")),
      s"url strings must not ride the ranking windows:\n${windowBlocks.mkString("\n")}")
  }

  test("no UDF on the dedup hot path: bloom probe + dequeue are codegen'd") {
    import spark.implicits._
    val cands = spark.range(1000).select(
      concat(lit("http://h"), pmod(col("id"), lit(7)), lit("/p"), col("id")).as("url"),
      concat(lit("h"), pmod(col("id"), lit(7))).as("host"),
      col("id").as("seq"))
    val seen = cands.limit(100).select("url", "host")
    val sketch = graft.seenset.SeenFilter.empty
    sketch.add(spark, seen, "url", "host")
    val out = graft.seenset.SeenSet.filterNew(spark, cands, seen, "url", Some(sketch))
    val p = plan(out)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"dedup path must not contain UDFs:\n$p")
    assert(p.contains("bloom_bank_contains"), s"expected the native probe:\n$p")
  }

  test("rewrite expressions are native: no object round-trip, null drops") {
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    val df = Seq(
      ("http://h.test/a/", "c.html"),
      ("http://h.test/a/", "#fragment-only"),
      ("http://h.test/a/", "xhttp://h2/x"))
      .toDF("origin", "raw")
      .withColumn("url", GraftColumnBridge.column(graft.functions.RewriteUrl(
        GraftColumnBridge.expression(col("origin")),
        GraftColumnBridge.expression(col("raw")))))
    val got = df.select("url").as[Option[String]].collect.toSeq
    assert(got == Seq(Some("http://h.test/a/c.html"), None,
      Some("http://h2/x")), s"rewrite results: $got")
    val p = plan(df.filter(col("url").isNotNull))
    assert(!p.contains("SerializeFromObject") && !p.contains("MapElements"),
      s"rewrite must not leave codegen via a typed map:\n$p")
    assert(!p.contains("ScalaUDF"))
  }

  test("no UDF in the sketch-BUILD aggregation: shard id is codegen'd") {
    import spark.implicits._
    val seen = spark.range(1000).select(
      concat(lit("http://h"), pmod(col("id"), lit(7)), lit("/p"), col("id")).as("url"),
      concat(lit("h"), pmod(col("id"), lit(7))).as("host"))
    val keyed = graft.seenset.SeenFilter.shardKeyed(seen, "url", "host")
    val p = plan(keyed.groupBy("_pid").count())
    assert(!p.contains("ScalaUDF"),
      s"sketch-build aggregation must not contain UDFs:\n$p")
    assert(p.contains("bloom_shard_id"), s"expected the native shard id:\n$p")
  }

  test("monotonically_increasing_id layout pin: pid<<33 | dense local row") {
    // withOrderedIndex derives global ranks from this documented-as-
    // "current implementation" bit layout (CrawlEngine.scala) — pin it so
    // a Spark upgrade that changes it fails HERE, not as an
    // ordering-parity corruption three suites away (round-2 advice #4)
    val df = spark.range(0, 10000).repartition(7)
      .withColumn("mid", monotonically_increasing_id())
      .withColumn("pid", spark_partition_id().cast("long"))
    assert(df.filter(shiftright(col("mid"), 33) =!= col("pid")).count() == 0,
      "high bits must be the partition id (>> 33)")
    val local = col("mid").bitwiseAND(lit((1L << 33) - 1))
    val perPid = df.groupBy("pid").agg(
      min(local).as("lo"), max(local).as("hi"), count(lit(1)).as("n"))
      .collect()
    perPid.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == r.getLong(3) - 1,
        s"local row numbers must be dense from 0: $r")
    }
  }

  test("IVF plan/codegen size is O(1) in cells: centroids ride a broadcast, not the plan") {
    // round-3 verdict #1: the old formulation embedded one struct(dot(..))
    // child per cell in a literal array(...) — a 10^5-child Catalyst
    // expression at the engine's own cells = ceil(sqrt(n)) sizing on the
    // 10^10 design point. Gate: quadrupling cells must not grow the plan,
    // and no literal array in the plan may exceed the vector dim.
    import spark.implicits._
    val dim = 8
    val emb = spark.range(400).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(dim)),
        j => pmod(col("id") * j, lit(97)).cast("float") / lit(97f)).as("embedding"))
      .cache()
    emb.count()
    val q = Seq.fill(dim)(0.1f)
    def planOf(cells: Int) = graft.pipeline.Similarity.ivfTopK(
      emb, "vec_id", "embedding", q, 5, cells = cells, nprobe = 4, iters = 1)
      .queryExecution.optimizedPlan
    def nodes(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      p.collect { case op =>
        op.expressions.map(e => e.collect { case _ => 1 }.size).sum
      }.sum
    def maxLitArray(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
      p.collect { case op =>
        op.expressions.flatMap(_.collect {
          case l: org.apache.spark.sql.catalyst.expressions.Literal =>
            l.value match {
              case ad: org.apache.spark.sql.catalyst.util.ArrayData =>
                ad.numElements()
              case _ => 0
            }
        })
      }.flatten.maxOption.getOrElse(0)
    val p64 = planOf(64)
    val p256 = planOf(256)
    val (n64, n256) = (nodes(p64), nodes(p256))
    info(s"expression nodes: cells=64 -> $n64, cells=256 -> $n256")
    assert(n256 - n64 <= 32,
      s"plan must not grow with cells: $n64 -> $n256\n$p256")
    assert(maxLitArray(p256) <= dim,
      s"no literal array beyond the query vector (dim $dim): ${maxLitArray(p256)}")
    emb.unpersist()
  }

  test("ANN knob sizing reads table metadata, not a count() scan") {
    // round-3 verdict #4: ivfTopK/lshTopK ran a full count() per
    // invocation to size cells/bits. With n supplied (parquet footers /
    // manifest), building the lshTopK plan runs ZERO jobs and ivfTopK
    // runs exactly one fewer action than the count() fallback.
    // the helper drains the async listener bus deterministically before
    // counting — a fixed sleep made the exact-count asserts flaky on a
    // loaded host (round-4 advice #5)
    import SparkTestSession.countActions
    import spark.implicits._
    val path = s"$sf/embeddings.parquet"
    val emb = spark.read.parquet(path)
    val q = emb.orderBy("vec_id").select("embedding").as[Seq[Float]].head()
    val n = graft.tableio.ParquetStats.rowCount(spark, path)
    assert(n > 0)
    val lshWithN = countActions {
      graft.pipeline.Similarity.lshTopK(emb, "vec_id", "embedding", q, 5,
        n = n, hashPlanes = true)
    }
    assert(lshWithN == 0, s"lshTopK with metadata n ran $lshWithN jobs")
    val lshWithout = countActions {
      graft.pipeline.Similarity.lshTopK(emb, "vec_id", "embedding", q, 5)
    }
    assert(lshWithout == 1, s"count() fallback should be exactly one job: $lshWithout")
    val ivfWithN = countActions {
      graft.pipeline.Similarity.ivfTopK(emb, "vec_id", "embedding", q, 5,
        iters = 1, n = n)
    }
    val ivfWithout = countActions {
      graft.pipeline.Similarity.ivfTopK(emb, "vec_id", "embedding", q, 5,
        iters = 1)
    }
    info(s"ivf actions: with n = $ivfWithN, count fallback = $ivfWithout")
    assert(ivfWithout == ivfWithN + 1,
      s"metadata n must save exactly the count scan: $ivfWithN vs $ivfWithout")
  }

  test("fixture crawl job budget: tiny waves spawn no broadcast-build jobs") {
    // round-4 verdict #4: the fixture crawl's floor was ~45 jobs, ~30 of
    // them anonymous BroadcastExchange builds (one EXTRA async job per
    // broadcast join per action — exchange reuse is within-query only).
    // The small-wave profile now disables auto-broadcast so tiny joins
    // run inline; the whole crawl must stay within a fixed RAW-job budget
    // (host-state-independent, unlike wall clock). Budget 20 vs 14-16
    // observed: headroom for scheduler-internal jobs, not for a
    // per-wave-broadcast regression (which would add ~30).
    val nJobs = SparkTestSession.recordJobs {
      import spark.implicits._
      val corpus = graft.fixtures.FixtureCorpus
        .generate(graft.Queries.fixtureParams).toDS.toDF
      val seed = graft.fixtures.FixtureCorpus.seedUrl(graft.Queries.fixtureParams)
      val seen = new graft.engine.CrawlEngine(spark, corpus, seed,
        graft.Queries.fixtureRules, useSketch = true).run().seen
      assert(seen.count() == 20)
    }._2.size
    assert(nJobs <= 20, s"fixture crawl ran $nJobs jobs (budget 20)")
  }

  test("q42 as-of join: one hash exchange, no range join blowup") {
    val p = plan(Queries.q42AsofJoin(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"as-of must not plan a nested-loop/cartesian:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected exactly 1 hash exchange (user_id), got $hashEx:\n$p")
  }

  test("q44 pivot with pinned values plans without a distinct pre-scan job") {
    // Resolving a parquet table costs a listing/footer job by itself, so the
    // gate is DIFFERENTIAL: building+planning q44 must run exactly as many
    // jobs as resolving its one input table — zero extra for pivot values.
    def jobsDuring(body: => Unit): Int = SparkTestSession.recordJobs(body)._2.size
    val baseline = jobsDuring {
      spark.read.parquet(s"$sf/events.parquet").queryExecution.executedPlan
    }
    val pivot = jobsDuring {
      Queries.q44Pivot(spark, sf).queryExecution.executedPlan
    }
    assert(pivot <= baseline,
      s"pivot planning ran $pivot job(s) vs $baseline for a bare table read — " +
        "the values pre-scan is back")
  }

  test("q45 pii scrub: pruned scan, native regex expressions, no UDF") {
    val p = plan(Queries.q45PiiRedact(spark, sf))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
      s"expected pruned scan:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"))
    assert(p.contains("HashAggregate"), "counters must hash-aggregate")
  }

  test("q46 range join: bin-bucketed equi-join, never a nested loop") {
    val p = plan(Queries.q46RangeJoin(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"bin key must drive a hash join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"containment must not plan a nested loop:\n$p")
  }

  test("q49 bucketed join: exchange-free and sort-free on the join sides") {
    val p = plan(Queries.q49BucketJoin(spark, sf))
    assert(p.contains("SortMergeJoin"), s"merge hint must hold:\n$p")
    assert(p.contains("SelectedBucketsCount"),
      s"join sides must scan the BUCKETED tables:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1,
      s"bucket layout must absorb the join shuffle (1 agg exchange only), " +
        s"got $hashEx:\n$p")
    // one-file-per-bucket + sortBy: the scan reports its order, so the
    // SMJ needs no Sort either — the only Sort left is the final orderBy
    val sorts = "\\bSort \\[".r.findAllIn(p).size
    assert(sorts == 1, s"expected only the output Sort, got $sorts:\n$p")
  }

  test("q51 time layout: disjoint per-file ts envelopes + pushed range filter") {
    val path = Queries.timeLayoutPath(spark, sf)
    val env = graft.tableio.ParquetStats
      .int64Envelopes(spark, path, "ts").sortBy(_._1)
    assert(env.size >= 4, s"expected a multi-file layout, got ${env.size}")
    env.sliding(2).foreach {
      case Seq(a, b) =>
        assert(a._2 < b._1,
          s"file envelopes overlap: $a vs $b — range layout broken")
      case _ =>
    }
    val p = plan(Queries.q51TimePruning(spark, sf))
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(ts".r
      .findFirstIn(p).isDefined,
      s"ts lower bound must reach the scan:\n$p")
    assert("PushedFilters: \\[[^\\]]*LessThan\\(ts".r.findFirstIn(p).isDefined,
      s"ts upper bound must reach the scan:\n$p")
  }

  test("q53 skew join: shuffle partitioned on (key, salt), hot list broadcast") {
    val p = plan(Queries.q53SkewJoin(spark, sf))
    // the salted join really repartitions on BOTH the key and the salt —
    // the property that spreads a hot key over `salts` reducers
    assert("hashpartitioning\\(user_id#\\d+L?, __fsalt".r.findFirstIn(p).isDefined,
      s"salted shuffle must partition on (user_id, __fsalt):\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"at-scale strategy hint must hold:\n$p")
    // hot-key detection is a slim top-k (TakeOrdered) fed to broadcast taggers
    assert(p.contains("TakeOrderedAndProject"),
      s"hot-key list must be a top-k, not a full sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"hot tagging must ride broadcast joins:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"no product joins:\n$p")
  }

  test("q55 z-order layout: footer file-skipping on BOTH interleaved dims") {
    val path = Queries.zorderLayoutPath(spark, sf)
    val dayEnv = graft.tableio.ParquetStats.int64Envelopes(spark, path, "day_idx")
    val ubEnv = graft.tableio.ParquetStats.int64Envelopes(spark, path, "ubucket")
    val n = dayEnv.size
    assert(n >= 8, s"expected a multi-file layout, got $n files")
    // the q55 query box: day_idx in [9, 11] AND ubucket in [0, 7]
    val dayHit = dayEnv.map(e => e._1 <= 11 && e._2 >= 9)
    val ubHit = ubEnv.map(e => e._1 <= 7)
    val both = dayHit.zip(ubHit).count { case (a, b) => a && b }
    // time-dim skipping is real (some files' day envelopes miss the box)
    assert(dayHit.count(identity) < n,
      s"no day-dim pruning: ${dayEnv.mkString(",")}")
    // second-dim skipping is real — the property a 1-D time sort can
    // NEVER provide (every time-sorted file spans the full user domain)
    assert(ubHit.count(identity) < n,
      s"no ubucket-dim pruning: ${ubEnv.mkString(",")}")
    // and the combined box scans a strict subset of either dim alone
    assert(both < math.min(dayHit.count(identity) + 1, n),
      s"combined box must prune: both=$both of $n")
    // both derived-column predicates reach the scan (lift the 100-char
    // metadata truncation so the full PushedFilters list is visible)
    val p = GraftSession.withConf(spark,
      Map("spark.sql.maxMetadataStringLength" -> "2000")) {
      plan(Queries.q55ZorderLayout(spark, sf))
    }
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(day_idx,9".r
      .findFirstIn(p).isDefined, s"day_idx lower bound not pushed:\n$p")
    assert("PushedFilters: \\[[^\\]]*LessThan\\(ubucket,8".r
      .findFirstIn(p).isDefined, s"ubucket bound not pushed:\n$p")
  }

  test("q56: runtime bloom filter injected into the fact-side scan") {
    GraftSession.withConf(spark, Queries.runtimeFilterConfs) {
      val p = plan(Queries.runtimeFilterPlan(spark, sf))
      assert(p.toLowerCase.contains("might_contain"),
        s"expected an injected bloom-filter probe on the fact side:\n$p")
      assert(p.contains("SortMergeJoin"),
        s"merge hint must hold (injection targets shuffle joins):\n$p")
    }
  }

  test("q63 rolling window: one hash exchange, RANGE frame, no self-join") {
    val p = plan(Queries.q63RollingWindow(spark, sf))
    // the naive formulation is a self-join on ts-range (quadratic per hot
    // user); the window form is one shuffle + one sort + a running frame
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected exactly 1 hash exchange (user_id), got $hashEx:\n$p")
    assert(p.contains("Window"), s"expected a Window operator:\n$p")
    assert(p.contains("RangeFrame"),
      s"expected a RANGE frame, not ROWS:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"), s"no join may appear:\n$p")
  }

  test("q64 fuzzy match: blocked equi-join, never a cartesian or nested loop") {
    val p = plan(Queries.q64FuzzyMatch(spark, sf))
    // the naive all-pairs levenshtein is a cartesian; blocking turns it
    // into an equi-join on blk with a post-join exact verify
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy match must stay a blocked equi-join:\n$p")
    assert(p.toLowerCase.contains("levenshtein"),
      s"exact verify must remain in the plan:\n$p")
  }

  test("q106 knn join: query side broadcasts, no cartesian, window on pairs") {
    val p = plan(Queries.q106KnnJoin(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"the query batch must ride a broadcast, not a shuffle:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"bucketed candidates only, never all-pairs:\n$p")
  }

  test("q108 random projection is map-side: no agg, no join, one sort exchange") {
    val p = plan(Queries.q108RandomProjection(spark, sf))
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      s"the sign matrix is an expression — nothing aggregates or joins:\n$p")
    // the only exchange is the output orderBy's range partitioning
    val exchanges = "exchange [a-z]*partitioning".r
      .findAllIn(p.toLowerCase).toList
    assert(exchanges.forall(_.contains("range")) && exchanges.size <= 1,
      s"projection must not shuffle:\n$p")
  }

  test("q64 on a DEFAULT session carries the levenshtein length guard " +
      "(round-5 verdict #2: the rule must run in production, not just here)") {
    // no test-side registration: the query builder itself must wire the
    // rule into whatever session it is handed (Verify/Bench/Main included)
    val opt = Queries.q64FuzzyMatch(spark, sf)
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert(opt.contains("abs(") && opt.contains("levenshtein"),
      s"default-session q64 plan must carry the length-bound guard:\n$opt")
  }

  test("custom optimizer rule: levenshtein filters gain the free length bound") {
    import spark.implicits._
    // parquet-backed (a literal LocalRelation would be constant-folded
    // away before any optimizer rule could see the filter)
    val dir = java.nio.file.Files.createTempDirectory("graft-lev-")
      .toString + "/t"
    Seq((1L, "abcdef", "abcdxf"), (2L, "ab", "abcdefghij"))
      .toDF("id", "a", "b").write.parquet(dir)
    def q = spark.read.parquet(dir)
      .filter(levenshtein(col("a"), col("b")) <= 2)
    val without = q.as[(Long, String, String)].collect.toSeq
    val prev = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations =
        prev :+ graft.plans.LevenshteinBoundRule
      val df = q
      val opt = df.queryExecution.optimizedPlan.toString.toLowerCase
      assert(opt.contains("abs("),
        s"length-difference guard must be injected:\n$opt")
      // fixed-point safe: exactly one guard for the one conjunct
      assert("abs\\(".r.findAllIn(opt).size == 1, opt)
      // semantics preserved: the long-vs-short pair is (correctly)
      // rejected by the guard alone, the near pair survives the DP
      assert(df.as[(Long, String, String)].collect.toSeq == without)
      assert(without == Seq((1L, "abcdef", "abcdxf")))
      // and the real blocked fuzzy-match query is unchanged by the rule
      val fuzz = Queries.q64FuzzyMatch(spark, sf).collect().toSeq
      spark.experimental.extraOptimizations = prev
      assert(Queries.q64FuzzyMatch(spark, sf).collect().toSeq == fuzz)
    } finally spark.experimental.extraOptimizations = prev
  }

  test("AQE splits a skewed join partition at runtime (q53's adaptive twin)") {
    // q53 salts skew STATICALLY (plan-time, portable to any join); AQE
    // handles it at RUNTIME from exchange statistics — both levers must
    // exist at 100 TB. Thresholds lowered so the fixture's hot key
    // (90% of rows, md5-fattened) crosses the skew bar.
    GraftSession.withConf(spark, Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32768",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768")) {
      val left = spark.range(0, 200000)
        .select(when(col("id") < 180000, 0L).otherwise(col("id")).as("k"),
          md5(col("id").cast("string")).as("payload"))
      val right = spark.range(0, 1000)
        .select(col("id").as("k"), lit("d").as("tag"))
      val j = left.join(right, "k")
      // execute j's own plan (count() would plan its own agg and leave
      // this AdaptiveSparkPlan unfinalized)
      assert(j.collect().length == 180000) // only the hot key matches
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE must have split the hot partition:\n$p")
    }
  }

  test("q73/q75/q76 pair generation stays key-grouped: no cartesian anywhere") {
    // all three build quadratic candidates, but always WITHIN a key
    // group (doc_id / l_orderkey / shared prefix shingle) via an
    // equi-join — the difference between feasible and infeasible at
    // 100 TB
    for (q <- Seq(Queries.q73TermCooccur _, Queries.q75Triangles _,
        Queries.q76PrefixSsjoin _)) {
      val p = plan(q(spark, sf))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"pair generation must ride an equi-join:\n$p")
    }
  }

  test("no UDF on the robots admission path") {
    import spark.implicits._
    val queue = spark.range(100).select(
      concat(lit("http://h0.test/p"), col("id")).as("url"),
      lit("h0.test").as("host"), col("id").as("seq"))
    val robots = Seq(graft.model.RobotsRule("h0.test", "/p1", allow = false))
    val (admitted, _) = graft.engine.Scheduler.robotsFilter(spark, queue, robots)
    val p = plan(admitted)
    assert(!p.contains("ScalaUDF"), s"robots path must not contain UDFs:\n$p")
    assert(p.contains("url_path"), s"expected the native url_path expr:\n$p")
  }
}
