package graft.engine

import graft.SparkTestSession
import graft.fixtures.FixtureCorpus
import graft.model._
import graft.tableio.TableIO
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/**
 * Checkpoint/resume gate (north rule; reference exact-resume contract
 * `spiderfetch.py:169-174` at wave granularity): kill between waves ->
 * resume from latest snapshot -> final state identical to an
 * uninterrupted run. Also exercises TableIO snapshot atomicity + lineage.
 */
class ResumeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val params = FixtureCorpus.Params(hosts = 3, pagesPerHost = 3,
    linksPerPage = 3, redirectPages = 1, failPages = 1)
  private lazy val corpus = FixtureCorpus.generate(params)
  private val seed = FixtureCorpus.seedUrl(params)
  private val rules = Seq(RecipeRule(spider = Some(".*"),
    fetch = Some("(?i).*\\.(txt|bz2)$"), depth = 3))

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag-").toString

  test("kill between waves + resume == uninterrupted run (exact state)") {
    val full = new CrawlEngine(spark, corpus.toDF, seed, rules,
      checkpoint = Some(new TableIO(tmpDir("full"), spark))).run()

    val ioDir = tmpDir("interrupted")
    // interrupted run: stop after wave 2
    new CrawlEngine(spark, corpus.toDF, seed, rules,
      checkpoint = Some(new TableIO(ioDir, spark)),
      stopAfterWaves = Some(2)).run()
    // resume in a FRESH engine (state only from the snapshot)
    val resumed = new CrawlEngine(spark, corpus.toDF, seed, rules,
      checkpoint = Some(new TableIO(ioDir, spark))).resume()

    def seenOf(t: CrawlTables) = t.seen.orderBy("seq")
      .select("url", "wave", "seq").as[(String, Int, Long)].collect.toSeq
    def procOf(t: CrawlTables) = t.processed.orderBy("ord")
      .select("wave", "url", "mode", "retry")
      .as[(Int, String, Int, Boolean)].collect.toSeq
    def dumpOf(t: CrawlTables) =
      t.dump.orderBy("seq").select("url").as[String].collect.toSeq
    def edgesOf(t: CrawlTables) =
      t.edges.select("src", "dst").as[(String, String)].collect.toSet

    assert(seenOf(resumed) == seenOf(full), "seen")
    assert(procOf(resumed) == procOf(full), "processed order")
    assert(dumpOf(resumed) == dumpOf(full), "dump")
    assert(edgesOf(resumed) == edgesOf(full), "edges")
    def fetchedOf(t: CrawlTables) = t.fetched.orderBy("ord")
      .select("url", "filename").as[(String, String)].collect.toSeq
    assert(fetchedOf(resumed) == fetchedOf(full), "fetched")
  }

  // ---- the resumed crawl equals the uninterrupted one on all nine tables:
  // across a rule entry, from a finished crawl, and from a snapshot whose
  // meta lacks `processed_rows`
  private val twoRules = Seq(
    RecipeRule(spider = Some(".*"), fetch = Some("(?i).*\\.(txt|bz2)$"), depth = 1),
    RecipeRule(spider = Some(".*"), fetch = Some("(?i).*\\.(txt|bz2)$"), depth = 1))
  private lazy val twoRuleDir = tmpDir("two-rule-full")
  private lazy val twoRuleFull = tablesOf(new CrawlEngine(spark, corpus.toDF,
    seed, twoRules, checkpoint = Some(new TableIO(twoRuleDir, spark))).run())

  /** Every table as its sorted row strings (a multiset; `seq` and `ord`
    * columns carry the order). `metrics` is compared per wave: its
    * per-partition split follows the physical partitioning of the wave's
    * input, which a resumed crawl reads back from parquet. */
  private def tablesOf(t: CrawlTables): Map[String, Seq[String]] = {
    import org.apache.spark.sql.functions.{col, sum}
    Map(
      "seen" -> t.seen, "processed" -> t.processed, "dump" -> t.dump,
      "edges" -> t.edges, "aliases" -> t.aliases, "fetch_log" -> t.fetchLog,
      "robots_blocked" -> t.robotsBlocked,
      "metrics" -> t.metrics.groupBy(col("wave"), col("ruleIdx"),
        (col("partitionId") === -1).as("total"))
        .agg(sum("frontierRows"), sum("fetchedRows"), sum("errorRows"),
          sum("discoveredRows"), sum("bytesFetched")),
      "fetched" -> t.fetched)
      .map { case (n, df) => n -> df.collect().map(_.toString).toSeq.sorted }
  }

  private def assertSameTables(got: Map[String, Seq[String]]): Unit = {
    val differ = twoRuleFull.keys.filter(n => got(n) != twoRuleFull(n))
    assert(differ.isEmpty, s"tables differ from the uninterrupted crawl: $differ")
  }

  /** Kill a two-rule crawl after `waves` waves; returns its snapshot dir. */
  private def killedAfter(waves: Int, tag: String): String = {
    val dir = tmpDir(tag)
    new CrawlEngine(spark, corpus.toDF, seed, twoRules,
      checkpoint = Some(new TableIO(dir, spark)),
      stopAfterWaves = Some(waves)).run()
    dir
  }

  private def resumeIn(dir: String): (CrawlEngine, Map[String, Seq[String]]) = {
    val engine = new CrawlEngine(spark, corpus.toDF, seed, twoRules,
      checkpoint = Some(new TableIO(dir, spark)))
    (engine, tablesOf(engine.resume()))
  }

  test("resume after the last wave of rule 0 crosses the rule entry exactly") {
    twoRuleFull
    val io = new TableIO(twoRuleDir, spark)
    val m = io.table(io.latest.get, "metrics")
    val lastOfRule0 = m.filter(m("ruleIdx") === 0)
      .agg(org.apache.spark.sql.functions.max(m("wave")))
      .as[Int].head()
    assert(m.filter(m("ruleIdx") === 1).count() > 0,
      "the crawl must run waves under both rules")
    val dir = killedAfter(lastOfRule0, "rule-entry")
    val snap = new TableIO(dir, spark).latest.get
    assert(snap.meta("rule_idx") == "0" && snap.tables("outer_queue").rows > 0,
      "killed after rule 0 with its outer queue pending")
    assertSameTables(resumeIn(dir)._2)
  }

  test("resume from a finished crawl's snapshot runs no wave") {
    twoRuleFull
    val io = new TableIO(twoRuleDir, spark)
    val last = io.latestId
    val (engine, got) = resumeIn(twoRuleDir)
    assert(engine.commitStats._2 == 0, "no wave may run, so nothing is committed")
    assert(io.latestId == last)
    assertSameTables(got)
  }

  test("resume from a snapshot without processed_rows takes the codec default") {
    import graft.tableio.TableWrite
    val dir = killedAfter(3, "no-processed-rows")
    val io = new TableIO(dir, spark)
    val snap = io.latest.get
    // re-commit the same tables (no new rows) under meta without the key
    io.commitWrites(snap.meta - "processed_rows", snap.tables.map { case (n, t) =>
      n -> TableWrite(io.table(snap, n).limit(0), t.files, t.rows) })
    val meta = io.latest.get.meta
    assert(!meta.contains("processed_rows"))
    val c = CrawlCursor.fromMeta(meta)
    assert(c == CrawlCursor.fromMeta(snap.meta)
      .copy(processedRows = Long.MaxValue, sketch = c.sketch))
    assertSameTables(resumeIn(dir)._2)
  }

  test("S2 fetch-state: byte-range resume verdicts (ok / checksum / no_resume)") {
    import graft.oracle.RefCrawler
    import org.apache.spark.sql.functions.col
    val mk = (name: String, body: String) =>
      CorpusDoc(s"http://h0.test/$name", Seq(Span("text", body, "", 0)))
    val seedDoc = CorpusDoc("http://h0.test/seed.html",
      Seq("a.txt", "b.txt", "c.txt").zipWithIndex.map { case (t, i) =>
        Span("link", s"http://h0.test/$t", "", 10 + i * 30) })
    val docs = Seq(seedDoc,
      mk("a.txt", "alpha content body long enough to have a resume tail"),
      mk("b.txt", "beta content body long enough to have a resume tail"),
      mk("c.txt", "gamma content"))
    def content(n: String) = FetchResume.contentOf(docs.find(_.doc_id.endsWith(n)).get)
    val aLen = content("a.txt").length / 2
    val states = Seq(
      // valid partial: resume succeeds (outcome NONE, no refetch error)
      FetchStateRow("http://h0.test/a.txt", aLen,
        FetchResume.tailHash(content("a.txt"), aLen)),
      // corrupted overlap: ResumeChecksumFailed
      FetchStateRow("http://h0.test/b.txt", content("b.txt").length / 2, 12345L),
      // partial longer than current content: ResumeNotSupported
      FetchStateRow("http://h0.test/c.txt", content("c.txt").length + 10, 0L))
    val rules = Seq(RecipeRule(spider = Some(".*\\.html$"),
      fetch = Some(".*\\.txt$"), depth = 2))
    val config = CrawlConfig(resumeState = states)

    val oracle = RefCrawler.run(docs, seedDoc.doc_id, rules, config = config)
    val engine = new CrawlEngine(spark, docs.toDF, seedDoc.doc_id, rules,
      config = config).run()
    val eLog = engine.fetchLog.select("url", "errorCode")
      .as[(String, Int)].collect.toMap
    assert(eLog("http://h0.test/a.txt") == ErrorCode.NONE, "valid partial resumes")
    assert(eLog("http://h0.test/b.txt") == ErrorCode.CHECKSUM)
    assert(eLog("http://h0.test/c.txt") == ErrorCode.NO_RESUME)
    val oLog = oracle.fetchLog.map(l => (l.url, l.errorCode)).toMap
    assert(eLog == oLog, "fetch-log parity under resume state")
  }

  test("snapshot persists the fetch_state table for crash recovery") {
    val dir = tmpDir("fstate")
    val io = new TableIO(dir, spark)
    new CrawlEngine(spark, corpus.toDF, seed, rules,
      checkpoint = Some(io)).run()
    val snap = io.latest.get
    assert(snap.tables.contains("fetch_state"))
    val st = io.table(snap, "fetch_state")
    assert(st.columns.toSet == Set("url", "bytes_done", "tail_hash"))
    // every completed fetch is resumable against the unchanged corpus
    import org.apache.spark.sql.functions.col
    val rows = st.as[FetchStateRow].collect.toSeq
    val byId = corpus.map(d => d.doc_id -> d).toMap
    rows.foreach { r =>
      val v = FetchResume.verdict(FetchResume.contentOf(byId(r.url)), r)
      assert(v == ErrorCode.NONE, s"state row not resumable: $r")
    }
  }

  test("snapshot manifest carries per-partition lineage + metrics") {
    val dir = tmpDir("manifest")
    val io = new TableIO(dir, spark)
    new CrawlEngine(spark, corpus.toDF, seed, rules,
      checkpoint = Some(io)).run()
    val snap = io.latest.get
    assert(snap.meta.contains("wave") && snap.meta.contains("seq_counter"))
    val seenLineage = snap.tables("seen")
    assert(seenLineage.rows > 0)
    assert(seenLineage.files.nonEmpty)
    assert(seenLineage.files.forall(_.bytes > 0))
    // metrics table has per-partition rows and a totals row per wave
    val m = io.table(snap, "metrics")
    assert(m.filter(m("partitionId") === -1).count() == snap.meta("wave").toLong)
  }

  test("incremental commits: appends span snapshots, rows accumulate, time travel intact") {
    import graft.tableio.{TableIO, TableWrite}
    val dir = tmpDir("incr")
    val io = new TableIO(dir, spark)
    val a = Seq((1L, "a")).toDF("id", "s")
    val s0 = io.commitWrites(Map("k" -> "0"), Map("t" -> TableWrite(a)))
    val p0 = s0.tables("t")
    val s1 = io.commitWrites(Map("k" -> "1"),
      Map("t" -> TableWrite(Seq((2L, "b")).toDF("id", "s"), p0.files, p0.rows)))
    assert(s1.tables("t").rows == 2)
    assert(s1.tables("t").files.exists(_.name.startsWith("v0/")),
      "append must reference the previous snapshot's files")
    assert(s1.tables("t").files.exists(_.name.startsWith("v1/")))
    assert(io.table(s1, "t").as[(Long, String)].collect.toSet ==
      Set((1L, "a"), (2L, "b")))
    // empty delta: zero-row files are dropped, rows/files carried forward
    val p1 = s1.tables("t")
    val s2 = io.commitWrites(Map("k" -> "2"),
      Map("t" -> TableWrite(a.limit(0), p1.files, p1.rows)))
    assert(s2.tables("t").rows == 2 &&
      s2.tables("t").files.size == p1.files.size)
    // time travel: the v0 manifest still reads only the original row
    assert(io.table(io.read(0), "t").count() == 1)
  }

  test("optimistic commit: a concurrent committer on one baseDir fails loudly") {
    // round-4 verdict #7: commitWrites computed id = latest+1 and swapped
    // `_latest` without re-validation — two engines on one baseDir would
    // silently clobber each other. The guard re-reads the version right
    // before the swap (Iceberg's optimistic-commit model).
    import graft.tableio.{TableIO, TableWrite}
    val dir = tmpDir("twocommit")
    val winner = new TableIO(dir, spark)
    val a = Seq((1L, "a")).toDF("id", "s")
    // loser: between writing its files and swapping the pointer, the
    // winner lands a commit (deterministic interleave via the test seam)
    val loser = new TableIO(dir, spark) {
      private var fired = false
      override protected def beforeSwap(id: Long): Unit =
        if (!fired) { fired = true
          winner.commitWrites(Map("who" -> "winner"), Map("t" -> TableWrite(a))) }
    }
    val e = intercept[java.util.ConcurrentModificationException] {
      loser.commitWrites(Map("who" -> "loser"),
        Map("t" -> TableWrite(Seq((2L, "b")).toDF("id", "s"))))
    }
    assert(e.getMessage.contains("concurrent commit"))
    // the winner's snapshot is intact and latest; the loser left no debris
    val latest = loser.latest.get
    assert(latest.meta("who") == "winner")
    assert(loser.table(latest, "t").as[(Long, String)].collect.toSeq ==
      Seq((1L, "a")))
    val leftover = new java.io.File(dir).list().filter(_.startsWith("_tmp"))
    assert(leftover.isEmpty, s"loser tmp dirs not cleaned: ${leftover.toSeq}")
    // the single-writer path is unchanged: a retry on the fresh state lands
    val s1 = loser.commitWrites(Map("who" -> "retry"),
      Map("t" -> TableWrite(Seq((2L, "b")).toDF("id", "s"))))
    assert(s1.id == latest.id + 1)
  }

  test("wave commits write deltas, not full rewrites (table files span snapshots)") {
    val dir = tmpDir("delta")
    val io = new TableIO(dir, spark)
    new CrawlEngine(spark, corpus.toDF, seed, rules,
      checkpoint = Some(io)).run()
    val snap = io.latest.get
    // a full-rewrite-per-wave scheme would put every file under the LAST
    // v-dir; the append model leaves earlier waves' rows in earlier v-dirs
    val vdirs = snap.tables("processed").files.map(_.name.split("/").head)
      .distinct
    assert(vdirs.size > 1,
      s"processed files should span snapshot dirs, got: $vdirs")
    // and commits stay resumable/complete: checkpointed == in-memory run
    val inMem = new CrawlEngine(spark, corpus.toDF, seed, rules).run()
    val ck = io.table(snap, "seen").orderBy("seq")
      .select("url", "wave").as[(String, Int)].collect.toSeq
    val im = inMem.seen.orderBy("seq")
      .select("url", "wave").as[(String, Int)].collect.toSeq
    assert(ck == im, "checkpointed seen must equal in-memory seen")
  }

  test("incremental consumer: added-file reads are disjoint and complete") {
    val dir = tmpDir("increments")
    val io = new TableIO(dir, spark)
    new CrawlEngine(spark, corpus.toDF, seed, rules,
      checkpoint = Some(io)).run()
    val last = io.latestId.get
    val snaps = (0L to last).map(io.read)
    // append model: manifests only GROW between commits (the fixture run
    // stays inside the compaction window) — the precondition that makes
    // a manifest file-list diff a valid incremental read
    snaps.sliding(2).foreach { pair =>
      if (pair.size == 2) {
        val fa = pair(0).tables("seen").files.map(_.name).toSet
        val fb = pair(1).tables("seen").files.map(_.name).toSet
        assert(fa.subsetOf(fb),
          s"append manifests must grow; dropped: ${fa -- fb}")
      }
    }
    // per-pair added-file sets never overlap (each file consumed once)
    val added = snaps.zipWithIndex.map { case (snap, i) =>
      val prev =
        if (i == 0) Set.empty[String]
        else snaps(i - 1).tables("seen").files.map(_.name).toSet
      snap.tables("seen").files.map(_.name).toSet -- prev
    }
    added.combinations(2).foreach { pair =>
      assert((pair(0) & pair(1)).isEmpty,
        s"added-file sets overlap: ${pair(0) & pair(1)}")
    }
    // union of the incremental READS == the full latest table, row-exact
    val union = snaps.zipWithIndex.map { case (snap, i) =>
      io.addedTable(if (i == 0) None else Some(snaps(i - 1)), snap, "seen")
    }.reduce(_ unionByName _)
    val full = io.table(io.latest.get, "seen")
    assert(union.count() == full.count(), "increments must cover the table")
    assert(union.exceptAll(full).isEmpty && full.exceptAll(union).isEmpty,
      "incremental union must equal the full table as a multiset")
  }

  test("copy-on-write merge: only envelope-hit files rewritten, rest carried verbatim") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = tmpDir("merge")
    val io = new TableIO(dir, spark)
    val base = spark.range(0, 4000).select(
      col("id").as("k"), (col("id") % 5).cast("string").as("tag"),
      lit(1L).as("n"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
    val s0 = io.commit(Map("t" -> "base"), Map("t" -> base))
    // clustered corrections (keys 0..499) + pure inserts (beyond every
    // envelope) — the realistic CDC shape merge pruning exists for
    val updates = spark.range(0, 500)
      .select(col("id").as("k"), lit("fixed").as("tag"), lit(2L).as("n"))
      .unionByName(spark.range(0, 100).select(
        (col("id") + 100000L).as("k"), lit("new").as("tag"), lit(3L).as("n")))
    val s1 = io.mergeTable(s0, "t", updates, "k")
    val f0 = s0.tables("t").files
    val f1 = s1.tables("t").files
    val preserved = f0.map(_.name).toSet & f1.map(_.name).toSet
    assert(preserved.nonEmpty, "pruning must carry untouched files forward")
    assert(preserved.size < f0.size, "the hit file must be rewritten")
    // carried manifest entries are VERBATIM (same name, same bytes)
    f1.filter(f => preserved(f.name)).foreach { f =>
      assert(f0.find(_.name == f.name).get.bytes == f.bytes)
    }
    assert(s1.meta("merge.rewritten_files").toInt == f0.size - preserved.size)
    // envelope soundness: no carried file contains a matched key
    val carried = spark.read.parquet(preserved.map(n => s"$dir/$n").toSeq: _*)
    assert(carried.join(updates.select("k"), Seq("k"), "left_semi").count() == 0,
      "a carried file holds a matched key — pruning is unsound")
    // row-exact upsert semantics + manifest row stat
    val expect = base.join(updates.select("k"), Seq("k"), "left_anti")
      .unionByName(updates)
    val got = io.table(s1, "t")
    assert(got.count() == expect.count())
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "merged table must equal anti-join(base) union updates as a multiset")
    assert(s1.tables("t").rows == expect.count())
  }

  test("changelog: manifest-diff CDC equals the full logical diff, carried files unread") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = tmpDir("cdc")
    val io = new TableIO(dir, spark)
    val base = spark.range(0, 4000).select(
      col("id").as("k"), (col("id") % 5).cast("string").as("tag"),
      lit(1L).as("n"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
    val s0 = io.commit(Map.empty, Map("t" -> base))
    val updates = spark.range(0, 500)
      .select(col("id").as("k"), lit("fixed").as("tag"), lit(2L).as("n"))
      .unionByName(spark.range(0, 100).select(
        (col("id") + 100000L).as("k"), lit("new").as("tag"), lit(3L).as("n")))
    val s1 = io.mergeTable(s0, "t", updates, "k")
    // the CDC scan plans only the manifest DIFF: files in both manifests
    // are never part of the read set
    val (removed, added) = io.changedFileSets(s0, s1, "t")
    val carried = s0.tables("t").files.map(_.name).toSet &
      s1.tables("t").files.map(_.name).toSet
    assert(removed.nonEmpty && added.nonEmpty && carried.nonEmpty)
    assert((removed.toSet & carried).isEmpty && (added.toSet & carried).isEmpty)
    assert(removed.size + carried.size == s0.tables("t").files.size)
    // pruning is PURE: the manifest-diff changelog equals the logical
    // full-table diff (rewrite-carried rows cancel, updates surface as
    // delete+insert pairs, pure inserts as insert-only)
    val log = io.changelog(s0, s1, "t")
    val v0 = io.table(s0, "t")
    val v1 = io.table(s1, "t")
    val expect = v1.exceptAll(v0).withColumn("change", lit("insert"))
      .unionByName(v0.exceptAll(v1).withColumn("change", lit("delete")))
    assert(log.count() == expect.count())
    assert(log.exceptAll(expect).isEmpty && expect.exceptAll(log).isEmpty,
      "manifest-diff changelog must equal the full logical diff")
    // shape sanity: 500 updated keys -> 500 delete+insert pairs; 100
    // pure inserts -> insert-only
    assert(log.filter(col("change") === "delete").count() == 500)
    assert(log.filter(col("change") === "insert").count() == 600)
  }

  test("insert-only merge rewrites nothing: every base file carried") {
    import org.apache.spark.sql.functions.{col, lit}
    val io = new TableIO(tmpDir("merge-ins"), spark)
    val base = spark.range(0, 1000).select(col("id").as("k"), lit(1L).as("n"))
      .repartitionByRange(4, col("k"))
    val s0 = io.commit(Map.empty, Map("t" -> base))
    val s1 = io.mergeTable(s0, "t",
      spark.range(0, 50).select((col("id") + 5000L).as("k"), lit(2L).as("n")),
      "k")
    val f0 = s0.tables("t").files.map(_.name).toSet
    assert(s1.meta("merge.rewritten_files").toInt == 0)
    assert(f0.subsetOf(s1.tables("t").files.map(_.name).toSet),
      "an insert-only merge must carry every base file")
    assert(io.table(s1, "t").count() == 1050)
  }

  test("merge-on-read delete: O(keys) commit, reads apply, compaction folds") {
    import org.apache.spark.sql.functions.col
    val io = new TableIO(tmpDir("mor"), spark)
    val base = spark.range(0, 4000).select(
      col("id").as("k"), (col("id") % 7).cast("string").as("tag"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
    val s0 = io.commit(Map.empty, Map("t" -> base))
    // scattered purge keys: every file's envelope is hit, so CoW would
    // rewrite the whole table — MoR must instead carry every data file
    // VERBATIM and commit only the delete file
    val keys1 = spark.range(0, 4000).filter(col("id") % 10 === 3)
      .select(col("id").as("k"))
    val s1 = io.deleteKeysMor(s0, "t", keys1, "k")
    assert(s1.tables("t").files == s0.tables("t").files,
      "a MoR delete must not touch data files")
    assert(s1.tables.contains("t__deletes"))
    val exp1 = base.filter(col("k") % 10 =!= 3)
    val got1 = io.tableMor(s1, "t", "k")
    assert(got1.count() == exp1.count())
    assert(got1.exceptAll(exp1).isEmpty && exp1.exceptAll(got1).isEmpty)
    // a second MoR delete ACCUMULATES under the append model
    val s2 = io.deleteKeysMor(s1, "t",
      spark.range(0, 10).select(col("id").as("k")), "k")
    assert(s2.tables("t").files == s0.tables("t").files)
    val exp2 = base.filter(col("k") % 10 =!= 3 && col("k") >= 10)
    val got2 = io.tableMor(s2, "t", "k")
    assert(got2.count() == exp2.count())
    assert(got2.exceptAll(exp2).isEmpty && exp2.exceptAll(got2).isEmpty)
    // maintenance folds the pending deletes into the data files and drops
    // the delete table: plain reads no longer pay the anti-join
    val s3 = io.compactDeletes(s2, "t", "k")
    assert(!s3.tables.contains("t__deletes"))
    val got3 = io.table(s3, "t")
    assert(got3.count() == exp2.count())
    assert(got3.exceptAll(exp2).isEmpty && exp2.exceptAll(got3).isEmpty)
    assert(io.tableMor(s3, "t", "k").count() == exp2.count())
  }

  test("copy-on-write delete: retention sweep rewrites only the doomed slice's files") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("delete")
    val io = new TableIO(dir, spark)
    val base = spark.range(0, 4000)
      .select(col("id").as("k"), (col("id") % 5).as("g"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
    val s0 = io.commit(Map.empty, Map("t" -> base))
    // retention: expire the oldest key slice (clustered at the low end)
    val s1 = io.deleteKeys(s0, "t",
      spark.range(0, 300).select(col("id").as("k")), "k")
    val f0 = s0.tables("t").files.map(_.name).toSet
    val f1 = s1.tables("t").files.map(_.name).toSet
    val preserved = f0 & f1
    assert(preserved.nonEmpty, "pruning must carry untouched files")
    assert(preserved.size < f0.size, "the doomed slice's file must rewrite")
    assert(s1.meta("delete.rewritten_files").toInt == f0.size - preserved.size)
    // envelope soundness: no carried file holds a doomed key
    val carried = spark.read.parquet(preserved.map(n => s"$dir/$n").toSeq: _*)
    assert(carried.filter(col("k") < 300).count() == 0)
    val got = io.table(s1, "t")
    val expect = base.filter(col("k") >= 300)
    assert(got.count() == expect.count())
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty,
      "delete must equal a plain filter of the base table")
    assert(s1.tables("t").rows == 3700)
  }

  test("small-file compaction: bins pack to target, big file carried verbatim") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = tmpDir("compact")
    val io = new TableIO(dir, spark)
    // v0: one big file (>= target, must never be read or copied)
    val s0 = io.commit(Map("t" -> "base"), Map("t" ->
      spark.range(0, 2000)
        .select(col("id").as("k"), lit("big").as("tag")).coalesce(1)))
    // v1..v9: nine 100-row delta files — the streaming-sink tail shape
    var cur = s0
    for (i <- 0 until 9) {
      val tl = cur.tables("t")
      cur = io.commitWrites(Map.empty, Map("t" -> graft.tableio.TableWrite(
        spark.range(2000 + i * 100, 2100 + i * 100)
          .select(col("id").as("k"), lit("small").as("tag")).coalesce(1),
        tl.files, tl.rows)))
    }
    assert(cur.tables("t").files.size == 10)
    val s2 = io.rewriteSmallFiles(cur, "t", targetRows = 300)
    val f2 = s2.tables("t").files
    // nine 100-row files pack into bins of <= 300 -> 3 bins of 3
    assert(s2.meta("compact.rewritten_files").toInt == 9)
    assert(s2.meta("compact.new_files").toInt == 3)
    assert(f2.size == 4) // big + 3 packed
    // the big file's manifest entry survives byte-identical
    val bigEntry = s0.tables("t").files.head
    assert(f2.exists(f => f.name == bigEntry.name && f.bytes == bigEntry.bytes))
    // every packed file respects the row bound
    f2.filterNot(_.name == bigEntry.name).foreach { f =>
      assert(spark.read.parquet(s"$dir/${f.name}").count() <= 300)
    }
    // content multiset unchanged, lineage row stat preserved
    val before = io.table(cur, "t")
    val after = io.table(s2, "t")
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty)
    assert(s2.tables("t").rows == 2900)
    // idempotence: everything is now >= target, a second pass is a no-op
    val s3 = io.rewriteSmallFiles(s2, "t", targetRows = 300)
    assert(s3.meta("compact.new_files").toInt == 0)
    assert(s3.tables("t").files.map(f => (f.name, f.bytes)).toSet ==
      f2.map(f => (f.name, f.bytes)).toSet)
  }

  test("orphan removal: sweeps unreferenced debris, never a manifest-listed file") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = tmpDir("orphans")
    val io = new TableIO(dir, spark)
    val s0 = io.commit(Map.empty, Map("t" ->
      spark.range(0, 500).select(col("id").as("k"), lit("a").as("tag"))))
    val tl = s0.tables("t")
    io.commitWrites(Map.empty, Map("t" -> graft.tableio.TableWrite(
      spark.range(500, 700).select(col("id").as("k"), lit("b").as("tag")),
      tl.files, tl.rows)))
    assert(io.removeOrphans() == 0) // clean state is a no-op
    // plant the three debris classes: crashed-commit tmp dir, stale
    // pointer temp, stray data file inside a version dir
    val fsDir = new java.io.File(dir)
    val tmpV = new java.io.File(fsDir, "_tmp_v9/t"); tmpV.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(tmpV, "part-junk.parquet").toPath, "junk")
    java.nio.file.Files.writeString(
      new java.io.File(fsDir, "_latest.partial").toPath, "9")
    java.nio.file.Files.writeString(
      new java.io.File(fsDir, "v0/t/stray.parquet").toPath, "junk")
    val before = io.table(io.latest.get, "t").collect().toSet
    // a grace window protects a possibly-in-flight committer's debris
    assert(io.removeOrphans(graceMs = 3600L * 1000) == 0)
    assert(io.removeOrphans() == 3)
    assert(!new java.io.File(fsDir, "_tmp_v9").exists())
    assert(!new java.io.File(fsDir, "_latest.partial").exists())
    assert(!new java.io.File(fsDir, "v0/t/stray.parquet").exists())
    // every manifest-listed file survived; reads are unchanged
    assert(io.table(io.latest.get, "t").collect().toSet == before)
    assert(io.table(io.read(0L), "t").count() == 500) // time travel intact
    assert(io.removeOrphans() == 0)
  }

  test("orphan removal never sweeps a rolled-back (abandoned but " +
      "time-travel-readable) snapshot's data files (round-5 advice #1)") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = tmpDir("orphans-rollback")
    val io = new TableIO(dir, spark)
    io.commit(Map.empty, Map("t" ->
      spark.range(100).select(col("id"), lit("a").as("tag"))))
    io.commitWrites(Map.empty, Map("t" -> graft.tableio.TableWrite(
      spark.range(100, 150).select(col("id"), lit("b").as("tag")),
      io.latest.get.tables("t").files, io.latest.get.tables("t").rows)))
    io.rollback(0L)
    // v1 is abandoned (latest = 0) but its manifest survives until
    // expire — removeOrphans must treat its files as referenced
    assert(io.removeOrphans() == 0,
      "abandoned snapshot's files are manifest-listed, not orphans")
    assert(io.table(io.read(1L), "t").count() == 150L,
      "time travel into the abandoned snapshot must still work")
  }

  test("metadata tables: files/snapshots mirror the manifests exactly") {
    import org.apache.spark.sql.functions.{col, lit}
    val io = new TableIO(tmpDir("meta"), spark)
    val s0 = io.commit(Map("who" -> "t0"), Map("t" ->
      spark.range(0, 100).select(col("id").as("k"), lit("a").as("tag"))))
    val tl = s0.tables("t")
    val s1 = io.commitWrites(Map("who" -> "t1"), Map("t" ->
      graft.tableio.TableWrite(
        spark.range(100, 150).select(col("id").as("k"), lit("b").as("tag")),
        tl.files, tl.rows)))
    // files table == the manifest's file list, with origin attribution
    val files = io.filesTable(s1).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(files.map(f => (f._2, f._3)).toSet ==
      s1.tables("t").files.map(f => (f.name, f.bytes)).toSet)
    assert(files.forall(_._1 == "t"))
    // append model: v1 carries v0's files, attributed to their origin
    assert(files.exists(_._4 == 0L) && files.exists(_._4 == 1L))
    // snapshots table: both versions, row stats and meta round-trip
    val snaps = io.snapshotsTable().orderBy("version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(3)))
    assert(snaps.map(_._1).toSeq == Seq(0L, 1L))
    assert(snaps(0)._2 == "t=100" && snaps(1)._2 == "t=150")
    assert(snaps(0)._3.contains("who=t0") && snaps(1)._3.contains("who=t1"))
  }

  test("schema evolution: appended column reconciles at read, old rows null") {
    import org.apache.spark.sql.functions.{col, lit}
    val io = new TableIO(tmpDir("evolve"), spark)
    val old = spark.range(0, 300).select(col("id").as("k"), lit("a").as("tag"))
    val s0 = io.commit(Map.empty, Map("t" -> old))
    val tl = s0.tables("t")
    val delta = spark.range(300, 400).select(col("id").as("k"),
      lit("b").as("tag"), (col("id") % 3).as("score"))
    val s1 = io.commitWrites(Map.empty,
      Map("t" -> graft.tableio.TableWrite(delta, tl.files, tl.rows)))
    // old files untouched on disk (evolution never rewrites history)
    assert(tl.files.map(_.name).toSet
      .subsetOf(s1.tables("t").files.map(_.name).toSet))
    val evolved = io.tableEvolved(s1, "t")
    assert(evolved.columns.toSeq == Seq("k", "tag", "score"))
    assert(evolved.count() == 400)
    assert(evolved.filter(col("score").isNull).count() == 300,
      "pre-evolution rows must surface the new column as null")
    assert(evolved.filter(col("score").isNotNull).count() == 100)
    // the non-evolved read path still works on the old schema's columns
    assert(io.table(s1, "t").select("k").count() == 400)
  }

  test("incremental view maintenance: every intermediate state equals a prefix recompute") {
    import org.apache.spark.sql.functions.{count => fcount, lit, sum => fsum}
    val io = new TableIO(tmpDir("ivm"), spark)
    new CrawlEngine(spark, corpus.toDF, seed, rules,
      checkpoint = Some(io)).run()
    val last = io.latestId.get
    val snaps = (0L to last).map(io.read)
    var state: org.apache.spark.sql.DataFrame = null
    snaps.zipWithIndex.foreach { case (snap, i) =>
      val partial = io
        .addedTable(if (i == 0) None else Some(snaps(i - 1)), snap, "seen")
        .groupBy("canonicalHost").agg(fcount(lit(1)).as("n_seen"))
      state =
        if (state == null) partial
        else state.unionByName(partial).groupBy("canonicalHost")
          .agg(fsum("n_seen").as("n_seen")).localCheckpoint()
      // the IVM invariant: after merging increment i, the view equals a
      // full recompute over snapshot i — at EVERY step, not just the end
      val expect = io.table(snap, "seen")
        .groupBy("canonicalHost").agg(fcount(lit(1)).as("n_seen"))
      assert(state.exceptAll(expect).isEmpty && expect.exceptAll(state).isEmpty,
        s"IVM state diverged from the prefix recompute at snapshot $i")
    }
  }

  test("politeness budget x checkpoint x kill/resume matches the sequential oracle") {
    // chunked waves append SEVERAL delta fragments per table per wave —
    // the incremental-commit path ResumeSpec's unbudgeted cases miss
    import graft.oracle.RefCrawler
    val cfg = CrawlConfig(perHostBudget = Some(2))
    val oracle = RefCrawler.run(corpus, seed, rules, config = cfg)
    val ioDir = tmpDir("budget-resume")
    new CrawlEngine(spark, corpus.toDF, seed, rules, config = cfg,
      checkpoint = Some(new TableIO(ioDir, spark)),
      stopAfterWaves = Some(2)).run()
    val resumed = new CrawlEngine(spark, corpus.toDF, seed, rules, config = cfg,
      checkpoint = Some(new TableIO(ioDir, spark))).resume()
    val got = resumed.seen.orderBy("seq")
      .select("url", "wave", "seq").as[(String, Int, Long)].collect.toSeq
    assert(got == oracle.seen.map(s => (s.url, s.wave, s.seq)), "seen parity")
    val gotProc = resumed.processed.orderBy("ord")
      .select("wave", "url", "mode", "retry")
      .as[(Int, String, Int, Boolean)].collect.toSeq
    assert(gotProc == oracle.processed.map(p =>
      (p.wave, p.url, p.mode, p.retry)), "processed parity")
  }

  test("deep crawls hit the compaction commit: file lists stay window-bounded") {
    // a 12-hop chain = 13 waves; the 8th commit compacts (full rewrite),
    // so the final manifest must reference nothing before v7 (wave 8's
    // snapshot) and still read the complete, oracle-exact seen set
    import graft.oracle.RefCrawler
    val chain = (0 until 12).map { i =>
      CorpusDoc(s"http://h0.test/c$i.html",
        Seq(Span("link", s"http://h0.test/c${i + 1}.html", "", 0)))
    }
    val chainSeed = "http://h0.test/c0.html"
    val chainRules = Seq(RecipeRule(spider = Some(".*"), depth = 20))
    val io = new TableIO(tmpDir("compact"), spark)
    val t = new CrawlEngine(spark, chain.toDF, chainSeed, chainRules,
      checkpoint = Some(io)).run()
    val oracle = RefCrawler.run(chain, chainSeed, chainRules)
    val got = t.seen.orderBy("seq").select("url").as[String].collect.toSeq
    assert(got == oracle.seen.map(_.url), "chain seen parity")
    val snap = io.latest.get
    val minVdir = snap.tables("seen").files
      .map(_.name.split("/").head.drop(1).toInt).min
    assert(minVdir >= 7,
      s"compaction must reset the file list window; oldest ref v$minVdir")
    val nWaves = snap.meta("wave").toInt
    assert(nWaves >= 12, s"expected a deep crawl, got $nWaves waves")
  }

  test("snapshot expiry keeps reachable data files, drops the rest") {
    import graft.tableio.{TableIO, TableWrite}
    val dir = tmpDir("expire")
    val io = new TableIO(dir, spark)
    // v0: t append base + full-write q; v1: t append; v2: t append
    var prev = io.commitWrites(Map.empty,
      Map("t" -> TableWrite(Seq((1L, "a")).toDF("id", "s")),
        "q" -> TableWrite(Seq(1L).toDF("x"))))
    (2 to 3).foreach { i =>
      val p = prev.tables("t")
      prev = io.commitWrites(Map.empty,
        Map("t" -> TableWrite(Seq((i.toLong, "z")).toDF("id", "s"),
          p.files, p.rows),
          "q" -> TableWrite(Seq(i.toLong).toDF("x"))))
    }
    val before = io.table(io.latest.get, "t")
      .as[(Long, String)].collect.toSet
    val deleted = io.expire(keepLast = 1)
    // v0's t-file is still referenced by v2's manifest and must survive;
    // v0/v1's full-write q files and v1's manifest are unreachable
    assert(deleted > 0, "expiry should delete the unreachable queue files")
    val after = io.table(io.latest.get, "t").as[(Long, String)].collect.toSet
    assert(after == before, "latest snapshot must read identically")
    assert(io.table(io.latest.get, "q").count() == 1)
    // expired versions are no longer time-travelable
    intercept[Exception](io.table(io.read(0), "q").count())
    // re-expiry with a WIDER window must not trip over manifests a
    // previous tighter expire already dropped
    assert(io.expire(keepLast = 3) == 0)
    assert(io.table(io.latest.get, "t").as[(Long, String)].collect.toSet
      == before)
  }

  test("snapshots are versioned and time-travelable") {
    val dir = tmpDir("versions")
    val io = new TableIO(dir, spark)
    new CrawlEngine(spark, corpus.toDF, seed, rules,
      checkpoint = Some(io)).run()
    val last = io.latestId.get
    assert(last >= 1)
    // earlier snapshot readable; seen table monotonically grows
    val sizes = (0L to last).map(v => io.read(v).tables("seen").rows)
    assert(sizes == sizes.sorted, s"seen rows should grow: $sizes")
  }

  test("rollback: pointer swap restores v0, abandoned stays readable, roll-forward refused") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("rollback")
    val io = new TableIO(dir, spark)
    val df0 = spark.range(100).select(col("id"), lit("a").as("tag"))
    io.commit(Map.empty, Map("t" -> df0))
    io.commitWrites(Map.empty, Map("t" -> graft.tableio.TableWrite(
      spark.range(100, 150).select(col("id"), lit("b").as("tag")),
      io.latest.get.tables("t").files, io.latest.get.tables("t").rows)))
    assert(io.latestId.contains(1L))
    val back = io.rollback(0L)
    assert(back.id == 0L && io.latestId.contains(0L))
    // latest now reads the ORIGINAL table, not the appended one
    assert(io.table(io.latest.get, "t").count() == 100L)
    // the abandoned snapshot stays time-travel-readable until expiry
    assert(io.table(io.read(1L), "t").count() == 150L)
    // rolling forward is not a rollback
    intercept[IllegalArgumentException](io.rollback(5L))
    // the next commit branches from the restored snapshot (v1 reused)
    io.commitWrites(Map.empty, Map("t" -> graft.tableio.TableWrite(
      spark.range(200, 210).select(col("id"), lit("c").as("tag")),
      io.latest.get.tables("t").files, io.latest.get.tables("t").rows)))
    assert(io.latestId.contains(1L))
    assert(io.table(io.latest.get, "t").count() == 110L)
    assert(io.table(io.latest.get, "t")
      .filter(col("tag") === "b").count() == 0L,
      "post-rollback commit must not resurrect the abandoned rows")
  }
}
