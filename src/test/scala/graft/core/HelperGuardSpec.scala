package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Keeps each engine-wide policy in its one helper: a pattern that
  * bypasses the helper, anywhere in `src/main/scala` outside the
  * helper's own file (also split over lines), fails here with its file
  * and line.
  *  - a bare `read.parquet(` submits a schema-inference job; every read
  *    either gives its schema or goes through [[Parquet.read]];
  *  - a `SparkSession.builder` starts a session with its own settings;
  *    every session comes from [[Session]]. */
class HelperGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private def outside(pattern: String, helper: Path): Seq[String] = {
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.contains(helper))
    val re = pattern.r
    sources.filterNot(_ == helper).flatMap { (f: Path) =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      re.findAllMatchIn(text).map { m =>
        val line = text.substring(0, m.start).count(_ == '\n') + 1
        s"$f:$line"
      }
    }
  }

  test("no bare read.parquet( in src/main/scala outside Parquet.read") {
    val hits = outside("""\bread\s*\.\s*parquet\s*\(""",
      root.resolve("graft/core/Parquet.scala"))
    assert(hits.isEmpty,
      "bare read.parquet( submits a schema-inference job; use " +
        "graft.core.Parquet.read or give a schema:\n  " +
        hits.mkString("\n  "))
  }

  test("no SparkSession.builder in src/main/scala outside Session") {
    val hits = outside("""\bSparkSession\s*\.\s*builder\b""",
      root.resolve("graft/core/Session.scala"))
    assert(hits.isEmpty,
      "a hand-built session drifts from the one session policy; use " +
        "graft.core.Session:\n  " + hits.mkString("\n  "))
  }
}
