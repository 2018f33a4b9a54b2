package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TwinsDoc

/** The twin matrix is mechanically auditable (round-16 VERDICT item):
  * an unlisted twin, a harness/matrix disagreement, or a drifted
  * COVERAGE.md table fails the build. Pure source/registry checks —
  * no Spark session. */
class TwinRegistrySpec extends AnyFunSuite {

  private val streamingDir =
    Paths.get("src/main/scala/graft/streaming")
  private val registryStreams =
    TwinRegistry.all.map(_.stream.split('.').head).toSet

  // protocol/infra files that are deliberately not twins themselves
  private val Infra = Set(
    "TwinLog", // the shared log protocol every log twin rides
    "EventState", // the watermark step every stateful event twin rides
    "TwinRegistry" // this matrix
  )

  test("every streaming source file is a registered twin or declared " +
      "infra — a new stream cannot ship unlisted") {
    val files = Files.list(streamingDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".scala"))
      .map(_.stripSuffix(".scala")).toSet
    val unlisted = files -- registryStreams -- Infra
    assert(unlisted.isEmpty,
      s"streaming files with no TwinRegistry row: $unlisted — add the " +
        "twin (with its proofs) or declare it infra with a reason")
    val phantom = registryStreams -- files
    assert(phantom.isEmpty,
      s"TwinRegistry rows with no source file: $phantom")
  }

  test("every public EventsStream stream builder has a twin row") {
    val src = Files.readString(
      streamingDir.resolve("EventsStream.scala"))
    val defs = "(?m)^  def ([a-zA-Z0-9_]+)\\(".r
      .findAllMatchIn(src).map(_.group(1)).toSet
    val helpers = Set("eventSchema", "readStream") // I/O plumbing
    val methods = TwinRegistry.all
      .filter(_.stream.startsWith("EventsStream."))
      .map(_.stream.stripPrefix("EventsStream.")).toSet
    val unlisted = defs -- helpers -- methods
    assert(unlisted.isEmpty,
      s"EventsStream builders with no TwinRegistry row: $unlisted")
    val phantom = methods -- defs
    assert(phantom.isEmpty,
      s"TwinRegistry rows naming missing EventsStream methods: $phantom")
  }

  test("the harness blocks and the matrix agree exactly") {
    val src = Files.readString(Paths.get(
      "src/test/scala/graft/streaming/TwinConformanceSpec.scala"))
    val blocks = "twinConformance\\(\"([^\"]+)\"\\)".r
      .findAllMatchIn(src).map(_.group(1)).toSet
    val declared = TwinRegistry.all.flatMap(_.harnessBlock).toSet
    assert(blocks == declared,
      s"TwinConformanceSpec blocks $blocks != matrix harness rows " +
        s"$declared — register the block (or the row)")
  }

  test("COVERAGE.md's twin matrix matches the registry (regenerate " +
      "with `sbt \"runMain graft.TwinsDoc\"`)") {
    val text = Files.readString(Paths.get("COVERAGE.md"))
    val b = text.indexOf(TwinsDoc.Begin)
    val e = text.indexOf(TwinsDoc.End)
    assert(b >= 0 && e > b,
      "COVERAGE.md is missing the twin-matrix sentinels")
    val onDisk = text.substring(b, e + TwinsDoc.End.length)
    assert(onDisk == TwinsDoc.region,
      "COVERAGE.md twin matrix drifted from TwinRegistry — run " +
        "`sbt \"runMain graft.TwinsDoc\"`")
  }
}
