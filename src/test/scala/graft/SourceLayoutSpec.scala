package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** `src/main` ships the product only. Its entry points are the three
  * mains the driver contract names; demos and dev probes live in test
  * sources (`sbt "Test/runMain graft.SSTableDemo"`, `graft.DevProbes`),
  * so a new dev entry point in `src/main` fails here instead of
  * shipping unnoticed. Likewise every reader of a directory lists it
  * through `ReadSnapshot`, so a reader hand-rolling its own listing
  * policy fails here. */
class SourceLayoutSpec extends AnyFunSuite {

  private val main = Paths.get("src", "main")

  private def mainSources: Seq[(Path, String)] = {
    assert(Files.isDirectory(main), s"run from the repository root: $main missing")
    val walk = Files.walk(main)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    finally walk.close()
  }

  test("src/main defines main only in Bench, Verify and PlanDump") {
    val withMain = mainSources.collect {
      case (p, text) if text.contains("def main(") => p.getFileName.toString
    }.sorted
    assert(withMain == Seq("Bench.scala", "PlanDump.scala", "Verify.scala"))
  }

  test("no src/main file mentions PerfProbe") {
    val mentions = mainSources.collect {
      case (p, text) if text.contains("PerfProbe") => p.toString
    }
    assert(mentions.isEmpty, s"dev probes belong in test sources: $mentions")
  }

  test("only ReadPath.scala re-checks the pointer after a listing or loads a delete shadow") {
    val call = """(?<!def )\brequirePostListState\(|\bDeleteShadow\.load\(""".r
    val callers = mainSources.collect {
      case (p, text) if call.findFirstIn(text).isDefined => p.getFileName.toString
    }
    assert(callers == Seq("ReadPath.scala"),
      s"list a directory through ReadSnapshot instead: $callers")
  }
}
