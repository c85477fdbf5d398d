package perfbench

import java.nio.file.{Files, Path, Paths}
import graft.engine.WavePhase
import org.apache.spark.GraftListenerBridge
import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

/** The metric catalogue: BENCHMARK.json lists the same names and units. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "rows_per_s" -> "1/s", "heap_live_mb" -> "MB")

  val crawlPhases: Seq[String] = Seq("batch_stats", "qualify_build", "logs_build",
    "events_build", "event_rank", "post_rank_build", "sketch_add", "seen_truncate",
    "compaction")
  /** Top-level crawl phases: everything else the engine labels nests in them. */
  val topPhases: Seq[String] = Seq("wave_total", "seen_truncate", "compaction")

  val queryNames: Seq[String] = Seq("q9_tokens", "q10_quality", "q12_exact_dedup",
    "q14_minhash_pairs", "q16_embed_topk", "q25_winnow_fingerprints",
    "q37_dup_clusters", "q64_fuzzy_match", "q67_bigram_lm", "q76_prefix_ssjoin",
    "q79_dup_spans", "q104_multi_block", "q114_entity_clusters")

  val perLayer: Seq[(String, String)] = Seq(
    "crawlengine.waves" -> "count", "crawlengine.jobs_per_op" -> "count",
    "crawlengine.driver_s" -> "s", "crawlengine.job_s" -> "s",
    "crawlengine.unexplained_frac" -> "frac") ++
    crawlPhases.map(p => s"crawlengine.phase.${p}_s" -> "s") ++ Seq(
    "spark.shuffle_bytes_per_row" -> "B/row", "spark.shuffle_records_per_row" -> "1/row",
    "spark.spill_bytes" -> "B", "spark.task_skew" -> "ratio", "spark.stages_per_op" -> "count",
    "scheduler.dequeue_s" -> "s", "scheduler.rows_per_s" -> "1/s",
    "scheduler.chunk_rows" -> "count", "scheduler.hot_partition_ratio" -> "ratio",
    "scheduler.robots_blocked_frac" -> "frac",
    "extract.findall_s" -> "s", "extract.links_per_s" -> "1/s",
    "urlrewrite.canon_s" -> "s", "urlrewrite.urls_per_s" -> "1/s",
    "urlrewrite.dropped_frac" -> "frac",
    "seenset.filter_new_s" -> "s", "seenset.rows_per_s" -> "1/s",
    "seenset.sketch_cleared_frac" -> "frac", "seenset.sketch_fp_rate" -> "frac",
    "seenset.sketch_bytes" -> "B", "seenset.rebuild_s" -> "s",
    "redirectresolver.analyze_s" -> "s", "redirectresolver.fixpoint_rounds" -> "count",
    "redirectresolver.level_s" -> "s",
    "tableio.commit_s_per_wave" -> "s", "tableio.commits" -> "count",
    "tableio.bytes_per_url" -> "B", "tableio.files_per_snapshot" -> "count",
    "tableio.read_latest_s" -> "s", "tableio.resume_s" -> "s") ++
    queryNames.map(q => s"queries.${q}_s" -> "s") ++ Seq(
    "trace.overhead_frac" -> "frac", "trace.ops" -> "count")

  val NamePattern = "[A-Za-z0-9_.-]+"
}

/**
 * One benchmark run in one fresh JVM: local[N] with N = the host's cores,
 * shuffle partitions = N, no forked JVMs. Set-up (session, inputs built
 * three times, warm-up ops) is followed by a closed loop of ops within the
 * given seconds; every op's output is checked. With --trace 1 the loop is
 * split in an untraced and a traced half and isolated layer replays follow.
 *
 * Usage: PerfBench --workload W --seed N --seconds S --trace 0|1
 *                  --work DIR --out FILE [--commit SHA]
 * Writes the result to FILE and, traced, the spans to FILE.spans.jsonl.
 */
object PerfBench {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap in use right after a full collection, summed over the heap pools.
    * The second collection runs after Spark's ContextCleaner has released
    * the blocks of frames the first one found unreachable. */
  def liveHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    System.gc(); Thread.sleep(1000); System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]").appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the status store keeps finished jobs, stages and SQL executions on
      // the heap; capped, the live heap does not grow with the op count
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%.2fs] $msg")
    val spark = session(work)
    log("session ready")
    val listener = if (trace) {
      val l = new LayerListener; spark.sparkContext.addSparkListener(l); Some(l)
    } else None
    val w = Workloads(name, spark, seed, work)
    val builds = (1 to 3).map { i =>
      if (i > 1) w.release()
      Workloads.time(w.build())._2
    }

    val cpuBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpuSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
    def gcMs = { var t = 0L; gcBeans.forEach(b => t += b.getCollectionTime); t }
    val gcSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val jitSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var opIdx = 0
    val off = new Tracer(false)
    /** Runs one op: untimed prepare, timed run, untimed check. `hook`
      * brackets the timed run only (the traced run's per-op deltas). */
    def oneOp(tr: Tracer, hook: Hook = NoHook): Option[(OpOut, Double)] = {
      tr.op = opIdx
      attempted += 1
      val res = try {
        w.prepare(opIdx)
        // untimed: a young collection falls in an op for its own garbage,
        // not for what the ops before it left
        System.gc()
        val mark = hook.begin()
        val cpu0 = cpuBean.getProcessCpuTime
        val gc0 = gcMs
        val jit0 = jitBean.getTotalCompilationTime
        val (out, sec) = Workloads.time(w.run(opIdx, tr))
        cpuSecs += (cpuBean.getProcessCpuTime - cpu0) / 1e9
        gcSecs += (gcMs - gc0) / 1e3
        jitSecs += (jitBean.getTotalCompilationTime - jit0) / 1e3
        hook.end(mark, out, sec)
        w.check(opIdx).foreach(failures += _)
        if (tr.enabled) hook.extra(w.opLayer(tr))
        Some((out, sec))
      } catch {
        case e: Exception =>
          failures += s"op $opIdx threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
      opIdx += 1
      res
    }
    log("inputs built")
    (0 until w.warmupOps).foreach(_ => oneOp(off))
    log("warm-up done")
    val loopStart = System.nanoTime()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - builds.sum + median(builds)

    /** Closed loop within `budget` seconds: the next op starts only if,
      * at the loop's mean time per op so far (prepare and check included),
      * it ends within the budget. At least one op that completes, giving up
      * after three that do not. */
    def loop(budget: Double, tr: Tracer, hook: Hook = NoHook): Seq[(OpOut, Double)] = {
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      val done = scala.collection.mutable.ArrayBuffer.empty[(OpOut, Double)]
      var tries = 0
      while ((done.isEmpty && tries < 3) || (tries > 0 && elapsed * (tries + 1) / tries <= budget)) {
        oneOp(tr, hook).foreach(done += _)
        tries += 1
      }
      done.toSeq
    }

    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var opSecs: Seq[Double] = Nil
    var tracer = off
    var byLabel = "{}"
    if (!trace) {
      val done = loop(seconds, off)
      opSecs = done.map(_._2)
      metrics ++= Seq("setup_s" -> setupS, "op_p50_s" -> median(opSecs),
        "rows_per_s" -> done.map(_._1.rows).sum / opSecs.sum,
        "heap_live_mb" -> liveHeapMb())
    } else {
      val plain = loop(seconds / 2, off).map(_._2)
      tracer = new Tracer(true)
      val acc = new LayerAcc(spark, listener.get)
      opSecs = loop(seconds / 2, tracer, acc).map(_._2)
      metrics ++= Metrics.perLayer.map(_._1 -> 0.0)
      metrics ++= acc.result()
      try metrics ++= w.replays(tracer) catch {
        case e: Exception => failures += s"layer replays: $e"
      }
      metrics("trace.overhead_frac") = median(opSecs) / median(plain) - 1
      metrics("trace.ops") = opSecs.size.toDouble
      byLabel = acc.byLabelJson
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    log("loop done")

    val units = (Metrics.endToEnd ++ Metrics.perLayer).toMap
    val metricJson = metrics.iterator.filterNot(_._1.startsWith("_")).map { case (k, v) =>
      s"${Json.str(k)}: {${Json.str("value")}: ${Json.num(v)}, ${Json.str("unit")}: ${Json.str(units(k))}}"
    }.mkString("{", ", ", "}")
    val rt = Runtime.getRuntime
    val host = Seq(
      "nproc" -> rt.availableProcessors().toString,
      "master" -> spark.sparkContext.master,
      "xmx_mb" -> (rt.maxMemory() / 1048576).toString,
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version,
      "commit" -> opts.getOrElse("commit", "unknown"))
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}")
    val selfTimes = Tracer.selfTimes(tracer.spans).toSeq.sorted
      .map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString("{", ", ", "}")
    val result =
      s"""{"workload": ${Json.str(name)}, "seed": $seed, "trace": ${if (trace) 1 else 0},
         |"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": ${failures.size},
         |"failures": ${failures.map(Json.str).mkString("[", ", ", "]")},
         |"metrics": $metricJson,
         |"ops": {"timed": ${opSecs.size}, "warmup": ${w.warmupOps}, "op_s": ${opSecs.map(Json.num).mkString("[", ", ", "]")}, "cpu_s": ${cpuSecs.map(Json.num).mkString("[", ", ", "]")}, "loop_s": ${Json.num(loopS)}, "gc_s": ${gcSecs.map(Json.num).mkString("[", ", ", "]")}, "jit_s": ${jitSecs.map(Json.num).mkString("[", ", ", "]")}},
         |"setup": {"builds_s": ${builds.map(Json.num).mkString("[", ", ", "]")}},
         |"span_self_s": $selfTimes,
         |"by_label": $byLabel,
         |"host": $host}""".stripMargin.replace("\n", " ")
    Files.write(Paths.get(opts("out")), (result + "\n").getBytes("UTF-8"))
    if (trace) tracer.write(Paths.get(opts("out") + ".spans.jsonl"))
    log("result written")
    spark.stop()
    log("session stopped")
  }
}

final case class Mark(ms: Long, jobs: Int, stages: Int, phases: Map[String, WavePhase.PhaseRow])

/** Brackets the timed part of each op. */
trait Hook {
  def begin(): Mark
  def end(m: Mark, out: OpOut, sec: Double): Unit
  def extra(layer: Map[String, Double]): Unit = ()
}

object NoHook extends Hook {
  def begin(): Mark = null
  def end(m: Mark, out: OpOut, sec: Double): Unit = ()
}

/** Per-op deltas of the listener and of WavePhase over the traced ops. */
final class LayerAcc(spark: SparkSession, listener: LayerListener) extends Hook {

  private val sums = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var ops = 0
  /** Per job description, over all traced ops: jobs, job seconds, stages,
    * shuffle write bytes, spill bytes, longest task seconds. */
  private val labels = scala.collection.mutable.Map.empty[String, Array[Double]]
  private def bucket(label: String) = labels.getOrElseUpdate(label, new Array[Double](6))

  def byLabelJson: String = labels.toSeq.sortBy(_._1).map { case (l, b) =>
    val fields = Seq("jobs", "job_s", "stages", "shuffle_write_bytes", "spill_bytes", "max_task_s")
      .zip(b).map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", ")
    s"${Json.str(l)}: {$fields}"
  }.mkString("{", ", ", "}")

  private def drain(): Unit =
    GraftListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext, 60000L)

  def begin(): Mark = {
    drain()
    Mark(System.currentTimeMillis(), listener.jobsSnapshot.size,
      listener.stagesSnapshot.size, WavePhase.snapshot.map(r => r.name -> r).toMap)
  }

  def end(m: Mark, out: OpOut, sec: Double): Unit = {
    val endMs = System.currentTimeMillis()
    drain()
    val jobs = listener.jobsSnapshot.drop(m.jobs)
    val stages = listener.stagesSnapshot.drop(m.stages)
    val now = WavePhase.snapshot.map(r => r.name -> r).toMap
    def wall(p: String) = now.get(p).map(_.wallSec).getOrElse(0.0) -
      m.phases.get(p).map(_.wallSec).getOrElse(0.0)
    def calls(p: String) = now.get(p).map(_.calls).getOrElse(0L) -
      m.phases.get(p).map(_.calls).getOrElse(0L)
    val jobS = Tracer.covered(jobs.map(j => (j.startMs, j.endMs)), m.ms, endMs) / 1e3
    val explained = Metrics.topPhases.map(wall).sum + out.layer.getOrElse("_commit_s", 0.0)
    val skews = stages.filter(_.taskMs.size >= 2).map { s =>
      val t = s.taskMs.sorted
      t.last.toDouble / math.max(1L, t(t.size / 2))
    }
    val rows = math.max(1L, out.rows).toDouble
    jobs.foreach { j =>
      val b = bucket(j.label)
      b(0) += 1; b(1) += (j.endMs - j.startMs) / 1e3
    }
    stages.foreach { st =>
      val b = bucket(st.label)
      b(2) += 1; b(3) += st.shuffleWriteBytes; b(4) += st.spillBytes
      b(5) = math.max(b(5), st.taskMs.maxOption.getOrElse(0L) / 1e3)
    }
    val add = Seq(
      "crawlengine.waves" -> calls("wave_total").toDouble,
      "crawlengine.jobs_per_op" -> jobs.size.toDouble,
      "crawlengine.job_s" -> jobS, "crawlengine.driver_s" -> math.max(0.0, sec - jobS),
      "crawlengine.unexplained_frac" -> math.max(0.0, 1 - explained / sec),
      "spark.shuffle_bytes_per_row" -> stages.map(_.shuffleWriteBytes).sum / rows,
      "spark.shuffle_records_per_row" -> stages.map(_.shuffleWriteRecords).sum / rows,
      "spark.spill_bytes" -> stages.map(_.spillBytes).sum.toDouble,
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else skews.max),
      "spark.stages_per_op" -> stages.size.toDouble,
      "redirectresolver.analyze_s" -> wall("redirect_analyze"),
      "redirectresolver.fixpoint_rounds" -> (calls("rr_fixpoint") + calls("rr_level")).toDouble,
      "redirectresolver.level_s" ->
        (if (calls("rr_level") == 0) 0.0 else wall("rr_level") / calls("rr_level"))) ++
      Metrics.crawlPhases.map(p => s"crawlengine.phase.${p}_s" -> wall(p)) ++
      out.layer
    add.foreach { case (k, v) => sums(k) += v }
    ops += 1
  }

  override def extra(layer: Map[String, Double]): Unit =
    layer.foreach { case (k, v) => sums(k) += v }

  def result(): Map[String, Double] =
    sums.iterator.map { case (k, v) => k -> v / math.max(1, ops) }.toMap
}
