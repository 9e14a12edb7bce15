package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Operators leave the session conf alone: a write to it is visible to
  * every query running on the same session, so only the session factory
  * and the Spark bridge (which configures its own cloned sessions) may
  * call `conf.set` / `conf.unset`. The planner is session state too: no
  * source in `src/main` appends to `experimental.extraStrategies`
  * (planner strategies come from `GraftExtensions`).
  */
class SessionConfLintSpec extends AnyFunSuite {
  private val root = Paths.get("src/main")
  private val allowed: Path => Boolean = p =>
    p.endsWith(Paths.get("graft/GraftSession.scala")) ||
      p.toString.contains("org/apache/spark/sql/graftbridge/")
  private val write = """\.conf\s*\.\s*(set|unset)\s*\(""".r

  private val strategyWrite = """experimental\s*\.\s*extraStrategies\s*[:+]*=(?!=)""".r

  private def hits(pattern: scala.util.matching.Regex, skip: Path => Boolean): Seq[String] = {
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
      .toSeq
    assert(sources.nonEmpty)
    for {
      p <- sources if !skip(p)
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if pattern.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
  }

  test("src/main writes the session conf only in GraftSession and the bridge") {
    val bad = hits(write, allowed)
    assert(bad.isEmpty, bad.mkString("session conf written outside GraftSession:\n", "\n", ""))
  }

  test("src/main never writes experimental.extraStrategies") {
    val bad = hits(strategyWrite, _ => false)
    assert(bad.isEmpty, bad.mkString("planner strategies appended outside GraftExtensions:\n", "\n", ""))
    assert(strategyWrite.findFirstIn("spark.experimental.extraStrategies =").isDefined)
    assert(strategyWrite.findFirstIn("spark.experimental.extraStrategies :+= s").isDefined)
    assert(strategyWrite.findFirstIn("spark.experimental.extraStrategies == s").isEmpty)
  }
}
