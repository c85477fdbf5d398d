package graft

/**
 * One scaling level in one FRESH JVM: local-mode throughput swings up to
 * 6x with JIT/heap state inherited from earlier sessions in the same
 * process, so the two-cluster-size comparison forks this per level
 * (closer to the real protocol too — separate cluster runs). Prints one
 * `PROBE cores=N thr=X chunk=Y roofline=Z` line per level.
 */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(16000000L)
    args.drop(1).headOption.map(_.split(",").map(_.toInt)).getOrElse(Array(2, 8)).foreach { c =>
      val s = GraftSession.builder(s"local[$c]", c).getOrCreate()
      val (thr, chunkThr, _) = Bench.frontierThroughput(s, n, warmupWaves = 3)
      val roof = Bench.rooflineShuffle(s, n)
      println(s"PROBE cores=$c thr=${thr.toLong} chunk=${chunkThr.toLong} roofline=${roof.toLong}")
      s.stop()
    }
  }
}
