package perfbench

import java.nio.file.{Files, Path}
import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Workloads._

final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

/** One pass of the 13-query training-data mix over a fixed `documents`
  * table (the shape of the repo's sf tables: 30-word vocabulary, 8-96
  * tokens, five languages, 20 sources, planted exact and near duplicates)
  * and a 64-dim `embeddings` table. The input does not depend on the run
  * seed, so its DuckDB oracle results are computed once (make_oracle.py).
  * The warm-up pass writes every query's output for run.py to compare with
  * those oracle results; every later pass's per-query checksum must equal
  * the written output's. */
final class DedupQueries(spark: SparkSession, docs: Int, work: Path) extends Workload {
  import spark.implicits._

  val warmupOps = 1
  private val queries = Metrics.queryNames

  private val dir = work.resolve("data")
  private val vocab = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg " +
    "key query a scan batch").split(" ")
  private val langs = Seq("en" -> 0.41, "zh" -> 0.15, "de" -> 0.14, "fr" -> 0.15, "es" -> 0.15)

  def generate(): (Seq[Doc], Seq[Emb]) = {
    val r = new scala.util.Random(DedupQueries.InputSeed)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val ds = (0 until docs).map { i =>
      val u = r.nextDouble()
      val text =
        if (i >= 10 && u < 0.02) texts(r.nextInt(texts.size))
        else if (i >= 10 && u < 0.07)
          texts(r.nextInt(texts.size)).split(" ")
            .map(w => if (r.nextDouble() < 0.08) "dup" else w).mkString(" ")
        else Seq.fill(8 + r.nextInt(89))(vocab(r.nextInt(vocab.length))).mkString(" ")
      texts += text
      var pick = r.nextDouble()
      val lang = langs.find { case (_, p) => pick -= p; pick < 0 }.map(_._1).getOrElse("en")
      Doc(i.toLong, text, lang, s"src${r.nextInt(20)}", text.length.toLong)
    }
    val es = (0 until docs).map(i =>
      Emb(i.toLong, Array.fill(64)((r.nextGaussian() * 0.1).toFloat), r.nextInt(10)))
    (ds, es)
  }

  def build(): Unit = {
    val (ds, es) = generate()
    ds.toDF.coalesce(1).write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    es.toDF.coalesce(1).write.mode("overwrite").parquet(dir.resolve("embeddings.parquet").toString)
  }
  def release(): Unit = ()
  def inputDigest: String = {
    val (ds, es) = generate()
    digestOf(ds ++ es.map(e => (e.vec_id, e.embedding.toSeq, e.label)))
  }

  /** Order-free checksum of a query result; floating columns are rounded
    * so that summation order inside a query cannot move the digest. */
  private def checksum(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.map { f => f.dataType match {
      case DoubleType | FloatType => round(col(f.name), 6)
      case _ => col(f.name)
    }}
    df.agg(count(lit(1)), coalesce(hashSum(cols.toSeq: _*), lit(0L)))
      .as[(Long, Long)].head()
  }

  private var reference: Map[String, (Long, Long)] = Map.empty
  private var last: Map[String, (Long, Long)] = Map.empty

  def run(op: Int, tr: Tracer): OpOut = {
    val first = reference.isEmpty
    val timed = queries.map { q =>
      val (sum, sec) = time(tr.span(s"queries.$q") {
        val df = SparkEntry.queries(q)(spark, dir.toString)
        if (!first) checksum(df)
        else {
          val path = work.resolve("query_out").resolve(q).toString
          df.coalesce(1).write.mode("overwrite").parquet(path)
          checksum(spark.read.parquet(path))
        }
      })
      (q, sum, sec)
    }
    last = timed.map(t => t._1 -> t._2).toMap
    if (first) reference = last
    OpOut(docs.toLong, timed.map(t => s"queries.${t._1}_s" -> t._3).toMap)
  }

  def outputDigest: String = digestOf(queries.map(last))

  def check(op: Int): Option[String] =
    queries.find(q => last(q) != reference(q))
      .map(q => s"queries op $op: $q checksum ${last(q)} vs first pass ${reference(q)}")
}

object DedupQueries {
  val InputSeed = 42L
  val Docs = 400

  /** Writes the input tables and the mix's oracle SQL under DIR (make_oracle.py).
    * Usage: DedupQueries DIR */
  def main(args: Array[String]): Unit = {
    val work = java.nio.file.Paths.get(args(0)).toAbsolutePath
    val spark = PerfBench.session(work)
    new DedupQueries(spark, Docs, work).build()
    val json = Metrics.queryNames.map(q => s"${Json.str(q)}: ${Json.str(SparkEntry.oracleSql(q))}")
      .mkString("{", ",\n", "}")
    Files.write(work.resolve("oracle_sql.json"), json.getBytes("UTF-8"))
    spark.stop()
  }
}
