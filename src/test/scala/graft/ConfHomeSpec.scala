package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/**
 * Source guard (no Spark): sessions are built and runtime confs changed
 * only in `GraftSession`, so every profile is a scoped, restoring
 * `withConf` and every main shares one base config list.
 */
class ConfHomeSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val home = root.resolve("graft/GraftSession.scala")

  /** Unscoped sets that must outlive the call, with the reason. */
  private val allowed = Map(
    (root.resolve("graft/Queries.scala"),
      """s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")""") ->
      "q49 returns a lazy frame: its bucketed scan is planned after the call returns")

  private def hits(needle: String): Seq[(Path, String)] = {
    val files = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != home).toSeq
    for {
      f <- files
      line <- Files.readAllLines(f).asScala
      if line.contains(needle) && !allowed.contains((f, line.trim))
    } yield (f, line.trim)
  }

  test("the source tree is where this spec expects it") {
    assert(Files.isRegularFile(home), s"missing $home")
    allowed.keys.foreach { case (f, line) =>
      assert(Files.readAllLines(f).asScala.exists(_.trim == line),
        s"stale exception, $f no longer holds: $line")
    }
  }

  test("SparkSession.builder( is called only in GraftSession") {
    assert(hits("SparkSession.builder(").isEmpty)
  }

  test("conf.set( / conf.unset( are called only in GraftSession") {
    assert((hits("conf.set(") ++ hits("conf.unset(")).isEmpty)
  }
}
