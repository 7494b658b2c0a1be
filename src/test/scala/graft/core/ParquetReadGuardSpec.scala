package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Keeps the schema-inference job out of the engine: every parquet read
  * in `src/main/scala` either gives its schema or goes through
  * [[Parquet.read]]. A bare `read.parquet(` (also split over lines)
  * anywhere else fails here with its file and line. */
class ParquetReadGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val helper = root.resolve("graft/core/Parquet.scala")
  private val bareRead = """\bread\s*\.\s*parquet\s*\(""".r

  test("no bare read.parquet( in src/main/scala outside Parquet.read") {
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.contains(helper))
    val hits = sources.filterNot(_ == helper).flatMap { (f: Path) =>
      val text = new String(Files.readAllBytes(f), "UTF-8")
      bareRead.findAllMatchIn(text).map { m =>
        val line = text.substring(0, m.start).count(_ == '\n') + 1
        s"$f:$line"
      }
    }
    assert(hits.isEmpty,
      "bare read.parquet( submits a schema-inference job; use " +
        "graft.core.Parquet.read or give a schema:\n  " +
        hits.mkString("\n  "))
  }
}
