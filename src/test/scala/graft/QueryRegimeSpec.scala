package graft

import graft.tableio.ParquetStats
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/**
 * The query entry's regime gate (`SparkEntry.sized`) and the schema cache
 * of `ParquetStats.read`: both regimes return the same rows, the small one
 * reuses everything it needs on a warm pass, a wrapped query leaves the
 * session conf as found, and a cached schema follows its table's listing.
 */
class QueryRegimeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** The benchmark's training-data query mix. */
  private val mix = Seq("q9_tokens", "q10_quality", "q12_exact_dedup",
    "q14_minhash_pairs", "q16_embed_topk", "q25_winnow_fingerprints",
    "q37_dup_clusters", "q64_fuzzy_match", "q67_bigram_lm", "q76_prefix_ssjoin",
    "q79_dup_spans", "q104_multi_block", "q114_entity_clusters")

  private val Small = Long.MaxValue
  private val Big = -1L

  private def run(name: String, smallInputRows: Long): DataFrame =
    SparkEntry.sized(name, SparkEntry.bodies(name), smallInputRows)(spark, sf)

  /** Order-free digest: the sorted rendered rows, doubles rounded. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => f"$d%.6f"
      case f: Float => f"$f%.6f"
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  private def isCheckpoint(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[LogicalRDD]

  test("the gate reads the input size from footers, without a job") {
    val (n, jobs) = SparkTestSession.recordJobs(SparkEntry.inputRows(spark, sf))
    assert(n == 9890L)
    assert(jobs.isEmpty)
    assert(SparkEntry.inputRows(spark, s"$sf/no_such_dir") == 0L)
  }

  test("forced small and forced big give the same rows for the query mix") {
    mix.foreach { q =>
      val small = run(q, Small)
      val big = run(q, Big)
      assert(isCheckpoint(small) && !isCheckpoint(big), q)
      assert(rows(small) == rows(big), q)
    }
  }

  test("a warm small-regime pass of the query mix compiles no class") {
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    mix.foreach(run(_, Small))
    val perQuery = mix.map { q =>
      val before = compiles
      run(q, Small)
      q -> (compiles - before)
    }
    assert(perQuery.filter(_._2 != 0L).isEmpty)
  }

  test("every job of a wrapped query carries its label") {
    val (_, jobs) = SparkTestSession.recordJobs(run("q9_tokens", Small))
    assert(jobs.nonEmpty)
    assert(jobs.map(_.getProperty("spark.job.description")).distinct == Seq("query:q9_tokens"))
  }

  test("a wrapped query leaves the session conf as it found it") {
    Seq(Small, Big).foreach { limit =>
      Seq("q9_tokens", "q14_minhash_pairs").foreach { q =>
        val before = spark.conf.getAll
        run(q, limit)
        assert(spark.conf.getAll == before, s"$q at limit $limit")
      }
    }
  }

  test("a second read of a table runs no job") {
    val path = java.nio.file.Files.createTempDirectory("graft-schema-").resolve("t").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(path)
    val first = ParquetStats.read(spark, path)
    val (second, jobs) = SparkTestSession.recordJobs(ParquetStats.read(spark, path))
    assert(jobs.isEmpty)
    assert(second.schema == first.schema)
    assert(second.as[(Long, String)].collect().sorted.toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("a table rewritten at the same path is read with its new schema") {
    val path = java.nio.file.Files.createTempDirectory("graft-schema-").resolve("t").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(path)
    assert(ParquetStats.read(spark, path).columns.toSeq == Seq("id", "s"))
    Seq((2.5, 7)).toDF("x", "y").write.mode("overwrite").parquet(path)
    val again = ParquetStats.read(spark, path)
    assert(again.columns.toSeq == Seq("x", "y"))
    assert(again.as[(Double, Int)].collect().toSeq == Seq((2.5, 7)))
  }
}
