package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps each decision in the one main source that owns it. Outside
  * `graft/operators/Rounds.scala`, no main source may name
  * `localCheckpoint`, call `.checkpoint(`, or rebuild a frame from a
  * Dataset's own rows with `createDataFrame(<frame>.rdd, ...)` — the
  * three ways round state used to be materialized by hand. Building a
  * frame from a computed RDD (`createDataFrame(rdd.mapPartitions...)`)
  * is an algorithm, not a cut, and stays allowed. Outside
  * `graft/Harness.scala`, no main source may build a SparkSession. */
class RoundsLintSpec extends AnyFunSuite {

  private val rounds = "graft/operators/Rounds.scala"
  private val harness = "graft/Harness.scala"

  /** (pattern, the only main source allowed to contain it) */
  private val rules = Seq(
    "localCheckpoint".r -> rounds,
    """\.checkpoint\(""".r -> rounds,
    """createDataFrame\(\s*[\w.]+\.rdd\b""".r -> rounds,
    """SparkSession\.builder\(""".r -> harness)

  private val root = Paths.get("src/main/scala")

  test("round-state cuts appear only in operators/Rounds.scala") {
    assertOwned(rounds, "cut round state through graft.operators.Rounds instead")
  }

  test("sessions are built only in Harness.scala") {
    assertOwned(harness, "build sessions with graft.Harness.session instead")
  }

  private def assertOwned(owner: String, fix: String): Unit = {
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != root.resolve(owner)).toSeq
    assert(files.nonEmpty, s"no sources under $root")
    val hits = for {
      f <- files
      text = new String(Files.readAllBytes(f), "UTF-8")
      (p, o) <- rules if o == owner
      m <- p.findAllMatchIn(text)
    } yield s"${root.relativize(f)}:${lineOf(text, m.start)}: ${m.matched}"
    assert(hits.isEmpty, s"$fix:\n" + hits.mkString("\n"))
  }

  private def lineOf(text: String, offset: Int): Int =
    text.substring(0, offset).count(_ == '\n') + 1
}
