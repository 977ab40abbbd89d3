package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the one staging policy one: every cache, eager checkpoint and
  * storage-capacity probe in `src/main/scala` goes through [[Stage]].
  */
class StageSpec extends AnyFunSuite {

  test("source scan: no persist, localCheckpoint, cache() or capacity probe outside Stage.scala") {
    val root = Paths.get("src/main/scala")
    val banned = """\.persist\(|\.localCheckpoint\(|\.cache\(\)|getExecutorMemoryStatus""".r
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Stage.scala")
      .toSeq
    assert(sources.size > 20, s"source scan found only ${sources.size} files under $root")
    def code(line: String): String = {
      val t = line.trim
      if (t.startsWith("*") || t.startsWith("/*")) ""
      else line.indexOf("//") match {
        case -1 => line
        case i  => line.take(i)
      }
    }
    val hits = sources.flatMap { (p: Path) =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if banned.findFirstIn(code(line)).nonEmpty =>
          s"${root.relativize(p)}:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, s"stage through graft.Stage instead:\n${hits.mkString("\n")}")
  }
}
