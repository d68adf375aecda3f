package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source guard for the one SQL surface: sessions are built only by
  * `GraftSession`, and optimizer rules are installed only by
  * `GraftExtensions` — never appended to a live session, where which
  * rules a plan gets would depend on what ran before. Fault injection
  * goes through the store's one write-point hook, never a user-settable
  * option. Engine code reads no environment variable: only a program's
  * entry point does. The set of `spark.graft.*` options and the number
  * of catch-all handlers in the bitemporal store are pinned. */
class SessionSurfaceSpec extends AnyFunSuite {

  // split so this file does not match its own patterns
  private val builderCall = "SparkSession" + ".builder("
  private val extraRules = "extra" + "Optimizations"
  private val testConf = "spark.graft." + "test."

  private val mainDir = Paths.get(sys.props("user.dir"), "src", "main")

  private lazy val sources: Seq[(Path, String)] = {
    val src = Paths.get(sys.props("user.dir"), "src")
    assert(Files.isDirectory(src), s"no source tree at $src")
    Files.walk(src).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => (p, new String(Files.readAllBytes(p), "UTF-8"))).toSeq
  }

  private def offenders(pattern: String, allowed: Path => Boolean) =
    sources.collect {
      case (p, text) if text.contains(pattern) && !allowed(p) => p.toString
    }

  test("SparkSession builders appear only in GraftSession.scala") {
    assert(sources.nonEmpty)
    val bad = offenders(builderCall,
      _.getFileName.toString == "GraftSession.scala")
    assert(bad.isEmpty, s"build sessions with GraftSession.builder: $bad")
  }

  test("no source touches the session's extra optimizations") {
    val bad = offenders(extraRules, _ => false)
    assert(bad.isEmpty, s"install rules through GraftExtensions: $bad")
  }

  test("production code reads no test-only option") {
    val bad = offenders(testConf, !_.startsWith(mainDir))
    assert(bad.isEmpty,
      s"inject faults through XtDb.writePointHook, not a conf key: $bad")
  }

  test("src/main reads exactly the listed spark.graft.* options") {
    // a new option fails here until it is listed on purpose
    val listed = Set(
      "autoCompact.maxLag", "erasePurge.maxCycles", "eventBucketBytes",
      "fullCompact.ratio", "fullCompact.smallBytes",
      "intervalJoin.bucketSeconds", "intervalJoin.enabled",
      "joinReorder.enabled", "joinReorder.ndvStats", "maxLevels",
      "txsFoldThreshold").map("spark.graft." + _)
    val key = ("\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"").r
    val read = sources.collect { case (p, text) if p.startsWith(mainDir) =>
      key.findAllMatchIn(text).map(_.group(1))
    }.flatten.toSet
    assert(read === listed)
  }

  test("the bitemporal store has exactly the pinned number of catch-alls") {
    // a new catch-all fails here until the count is raised on purpose:
    // a failure the store cannot name should propagate, not degrade
    val catchAll = "NonFatal|Throwable|case _: Exception|case e: Exception".r
    val storeDir = mainDir.resolve("scala/graft/bitemporal")
    val lines = sources.collect { case (p, text) if p.startsWith(storeDir) =>
      text.linesIterator.count(catchAll.findFirstIn(_).isDefined)
    }.sum
    assert(lines === 4)
  }

  test("under src/main only files defining a main read the environment") {
    val entryPoints = sources.collect {
      case (p, text) if text.contains("def main(") => p
    }.toSet
    val bad = Seq("sys.env", "System.getenv").flatMap(
      offenders(_, p => !p.startsWith(mainDir) || entryPoints(p))).distinct
    assert(bad.isEmpty, s"engine code must not read env variables: $bad")
  }
}
