package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the lineage-cut decision in one module: outside
  * `graft/operators/Rounds.scala`, no main source may name
  * `localCheckpoint`, call `.checkpoint(`, or rebuild a frame from a
  * Dataset's own rows with `createDataFrame(<frame>.rdd, ...)` — the
  * three ways round state used to be materialized by hand. Building a
  * frame from a computed RDD (`createDataFrame(rdd.mapPartitions...)`)
  * is an algorithm, not a cut, and stays allowed. */
class RoundsLintSpec extends AnyFunSuite {

  private val patterns = Seq(
    "localCheckpoint".r,
    """\.checkpoint\(""".r,
    """createDataFrame\(\s*[\w.]+\.rdd\b""".r)

  test("round-state cuts appear only in operators/Rounds.scala") {
    val root = Paths.get("src/main/scala")
    val allowed = root.resolve("graft/operators/Rounds.scala")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != allowed).toSeq
    assert(files.nonEmpty, s"no sources under $root")
    val hits = for {
      f <- files
      text = new String(Files.readAllBytes(f), "UTF-8")
      p <- patterns
      m <- p.findAllMatchIn(text)
    } yield s"${root.relativize(f)}:${lineOf(text, m.start)}: ${m.matched}"
    assert(hits.isEmpty,
      "cut round state through graft.operators.Rounds instead:\n" +
        hits.mkString("\n"))
  }

  private def lineOf(text: String, offset: Int): Int =
    text.substring(0, offset).count(_ == '\n') + 1
}
