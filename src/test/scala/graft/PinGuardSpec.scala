package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Materialization goes through `graft.engine.Pin` only: a raw persist,
  * cache, local checkpoint or unpersist anywhere else in `src/main`
  * escapes scope-owned release. Comments are not code and do not count.
  */
class PinGuardSpec extends AnyFunSuite {

  private val raw =
    """\.persist\(|\.cache\(\)|localCheckpoint\(|unpersist\(""".r

  private def code(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  test("no raw persist/cache/localCheckpoint/unpersist outside Pin.scala") {
    val files = {
      val it = Files.walk(Paths.get("src/main"))
      try it.toArray.toSeq.map(_.asInstanceOf[Path])
        .filter(_.toString.endsWith(".scala"))
      finally it.close()
    }
    assert(files.nonEmpty)
    val hits = files.filterNot(_.endsWith(Paths.get("engine/Pin.scala")))
      .flatMap { p =>
        code(new String(Files.readAllBytes(p), "UTF-8")).linesIterator
          .filter(l => raw.findFirstIn(l).isDefined)
          .map(l => s"$p: ${l.trim}")
      }
    assert(hits.isEmpty, s"raw lifecycle calls:\n${hits.mkString("\n")}")
  }
}
