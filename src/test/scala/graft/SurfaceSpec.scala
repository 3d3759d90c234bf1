package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source-level guard on the library's public surface: `src/main/scala`
  * is the library plus its three mains, and every `spark.graft.*`
  * session key is listed in the README knob table with the artifact or
  * spec that justifies it. A new dev main or knob fails here instead of
  * regrowing the tree; dev harnesses belong under `src/test`. */
class SurfaceSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")
  private val testRoot = Paths.get("src/test/scala")

  private def sources(root: Path): Seq[(Path, String)] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
      .toSeq

  private val objectDecl = """(?m)^\s*(?:private(?:\[\w+\])?\s+)?(?:case\s+)?object\s+(\w+)""".r
  private val confKey = """"spark\.graft\.(\w+)""".r
  private val tableRow = """^\|\s*`spark\.graft\.(\w+)`\s*\|.*""".r

  test("the only objects with a main are Bench, Verify and Explain") {
    val withMain = sources(mainRoot).flatMap { case (p, src) =>
      """\bdef\s+main\s*\(""".r.findAllMatchIn(src).map { m =>
        objectDecl.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
          .map(_.group(1)).getOrElse(s"<no object in $p>")
      }
    }.toSet
    assert(withMain === Set("Bench", "Verify", "Explain"))
  }

  test("the settings GraftSession makes equal the README session-defaults table") {
    val src = new String(Files.readAllBytes(mainRoot.resolve("graft/GraftSession.scala")), "UTF-8")
    val inCode = """\.config\("([^"]+)"""".r.findAllMatchIn(src).map(_.group(1)).toSet
    val row = """^\|\s*`(spark\.[\w.]+)`\s*\|.*""".r
    val inReadme = Files.readAllLines(Paths.get("README.md")).asScala.toSeq
      .collect { case row(key) if !key.startsWith("spark.graft.") => key }
    assert(inReadme.distinct.size === inReadme.size, s"duplicate README rows: $inReadme")
    assert(inCode === inReadme.toSet)
  }

  test("spark.graft keys in the library equal the README knob table, each justified") {
    val inCode = sources(mainRoot).flatMap { case (_, src) =>
      confKey.findAllMatchIn(src).map(_.group(1))
    }.toSet
    val rows = Files.readAllLines(Paths.get("README.md")).asScala.toSeq
      .collect { case row @ tableRow(key) => key -> row }
    val inReadme = rows.map(_._1)
    assert(inReadme.distinct.size === inReadme.size, s"duplicate README rows: $inReadme")
    assert(inCode === inReadme.toSet)
    assert(inCode === Set("reliableCheckpoints", "corpusCacheLevel"))
    val specClasses = sources(testRoot).flatMap { case (_, src) =>
      """\bclass\s+(\w+Spec)\b""".r.findAllMatchIn(src).map(_.group(1))
    }.toSet
    rows.foreach { case (key, row) =>
      val artifacts = """BENCH_\w+\.json""".r.findAllIn(row).toSeq
      val specs = """\b\w+Spec\b""".r.findAllIn(row).toSeq
      assert(artifacts.nonEmpty || specs.nonEmpty, s"$key names no artifact or spec")
      artifacts.foreach(a => assert(Files.exists(Paths.get(a)), s"$key cites missing $a"))
      specs.foreach(s => assert(specClasses.contains(s), s"$key cites missing $s"))
    }
  }
}
