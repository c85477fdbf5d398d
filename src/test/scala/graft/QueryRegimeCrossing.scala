package graft

import java.nio.file.{Files, Paths}

/**
 * The crossing measurement behind `SparkEntry.SmallInputRows`: every
 * registered query timed under the small-data profile and under the
 * session's settings, each side forced through `SparkEntry.sized`'s row
 * limit (`Long.MaxValue` runs every input small, `-1` every input big).
 *
 * Queries are timed in passes over the whole registry, the way a sweep or
 * a query mix runs them, so the codegen cache holds what a mix leaves in
 * it rather than the previous call of the same query. One call is the
 * wrapped query plus a `noop` write of its result, so both sides include
 * full materialization. One untimed pass per side, then `repeats` timed
 * rounds of one pass per side (the side that goes first alternates).
 * Writes one TSV row per query: `name  small_s...  big_s...`; a call that
 * throws is recorded as `NaN`.
 *
 * Usage (compiled test classes on the class path, see
 * `BENCH/query_regime.md`): `QueryRegimeCrossing SF_DIR REPEATS OUT_TSV`
 */
object QueryRegimeCrossing {
  def main(args: Array[String]): Unit = {
    val Array(dir, repeatsArg, out) = args
    val repeats = repeatsArg.toInt
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    val names = SparkEntry.bodies.keys.toSeq.sorted
    def pass(smallInputRows: Long): Seq[Double] = names.map { name =>
      val t0 = System.nanoTime()
      try {
        SparkEntry.sized(name, SparkEntry.bodies(name), smallInputRows)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Exception =>
          System.err.println(s"$name failed: ${e.getMessage}")
          Double.NaN
      }
    }
    val (small, big) = (Long.MaxValue, -1L)
    pass(small); pass(big)
    val rounds = (0 until repeats).map { r =>
      if (r % 2 == 0) { val s = pass(small); (s, pass(big)) }
      else { val b = pass(big); (pass(small), b) }
    }
    val rows = names.indices.map { i =>
      (Seq(names(i)) ++ rounds.map(r => f"${r._1(i)}%.3f") ++ rounds.map(r => f"${r._2(i)}%.3f"))
        .mkString("\t")
    }
    Files.write(Paths.get(out), (rows.mkString("\n") + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
