package perfbench

import java.nio.file.{Files, Paths}

/**
 * The benchmark's own checks, run by perfbench/test_perfbench.py:
 *  - span self time on a hand-built span tree;
 *  - every metric name matches [A-Za-z0-9_.-]+ and is used once;
 *  - per workload (inputs shrunk), the same seed gives identical generated
 *    inputs and identical op outputs, and each op passes its output check.
 * Prints one JSON line: {"ok": bool, "errors": [...], "metrics": {name: unit}}.
 *
 * Usage: SelfTest --work DIR
 */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(cond: Boolean, msg: => String): Unit = if (!cond) errors += msg

    // root [0,100) with children A [10,40) and B [30,60) that overlap, and
    // a grandchild G [15,25) under A: self(root) = 100 - |[10,60)| = 50,
    // self(A) = 30 - 10 = 20, self(B) = 30, self(G) = 10
    val tree = Seq(Span(0, -1, "root", 0, 0, 100), Span(1, 0, "A", 0, 10, 40),
      Span(2, 0, "B", 0, 30, 60), Span(3, 1, "G", 0, 15, 25))
    val self = Tracer.selfTimes(tree).map { case (k, v) => k -> math.round(v * 1e9) }
    expect(self == Map("root" -> 50L, "A" -> 20L, "B" -> 30L, "G" -> 10L),
      s"span self times $self")
    expect(Tracer.covered(Seq((0L, 5L), (3L, 8L), (20L, 30L)), 2L, 25L) == 11L,
      "interval union clipped to a window")
    val tr = new Tracer(true)
    tr.op = 7
    tr.span("outer") { tr.span("inner")(()) }
    val recorded = tr.spans.map(s => (s.name, s.parent, s.op)).toSet
    expect(recorded == Set(("outer", -1, 7), ("inner", 0, 7)), s"recorded spans $recorded")

    val names = (Metrics.endToEnd ++ Metrics.perLayer).map(_._1)
    names.filterNot(_.matches(Metrics.NamePattern)).foreach(n => errors += s"bad metric name $n")
    expect(names.distinct.size == names.size, "duplicate metric names")

    Files.createDirectories(work)
    val spark = PerfBench.session(work)
    Workloads.names.foreach { name =>
      def once(seed: Long, sub: String): (String, String, Option[String]) = {
        val dir = work.resolve(sub)
        Files.createDirectories(dir)
        val w = Workloads(name, spark, seed, dir, small = true)
        w.build()
        val in = w.inputDigest
        w.prepare(0)
        w.run(0, new Tracer(false))
        val bad = w.check(0)
        val out = w.outputDigest
        w.release()
        (in, out, bad)
      }
      val (in1, out1, bad1) = once(11L, s"$name-a")
      val (in2, out2, bad2) = once(11L, s"$name-b")
      val (in3, _, _) = once(12L, s"$name-c")
      expect(in1 == in2, s"$name: same seed, different inputs")
      expect(out1 == out2, s"$name: same seed, different op outputs")
      // the query mix's input is fixed: its oracle results are recorded once
      if (name != "dedup_queries") expect(in1 != in3, s"$name: the seed does not change the inputs")
      (bad1 ++ bad2).foreach(b => errors += s"$name: $b")
    }
    spark.stop()

    val catalogue = (Metrics.endToEnd ++ Metrics.perLayer)
      .map { case (n, u) => s"${Json.str(n)}: ${Json.str(u)}" }.mkString("{", ", ", "}")
    println(s"""{"ok": ${errors.isEmpty}, "errors": ${errors.map(Json.str).mkString("[", ", ", "]")}, "metrics": $catalogue}""")
    if (errors.nonEmpty) sys.exit(1)
  }
}
