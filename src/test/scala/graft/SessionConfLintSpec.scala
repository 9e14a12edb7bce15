package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Operators leave the session conf alone: a write to it is visible to
  * every query running on the same session, so only the session factory
  * and the Spark bridge (which configures its own cloned sessions) may
  * call `conf.set` / `conf.unset`.
  */
class SessionConfLintSpec extends AnyFunSuite {
  private val root = Paths.get("src/main")
  private val allowed: Path => Boolean = p =>
    p.endsWith(Paths.get("graft/GraftSession.scala")) ||
      p.toString.contains("org/apache/spark/sql/graftbridge/")
  private val write = """\.conf\s*\.\s*(set|unset)\s*\(""".r

  test("src/main writes the session conf only in GraftSession and the bridge") {
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") || p.toString.endsWith(".java"))
      .toSeq
    assert(sources.nonEmpty)
    val hits = for {
      p <- sources if !allowed(p)
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if write.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("session conf written outside GraftSession:\n", "\n", ""))
  }
}
