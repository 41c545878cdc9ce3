package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every standalone main must be accounted for in the verify skill,
  * which says what each one is for and how to run it. A main nothing
  * documents is one nothing runs; this keeps a new probe from landing
  * unlisted. */
class MainInventorySpec extends AnyFunSuite {

  private val objectDecl = """^\s*(?:private\s+|private\[\w+\]\s+)?object\s+(\w+)""".r
  private val mainDecl = """^\s*def\s+main\s*\(""".r

  /** Names of the objects declaring a `def main`, per source file: each
    * main belongs to the nearest object declared above it. */
  private def mains(root: Path): Seq[(Path, String)] = {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    files.flatMap { f =>
      var owner: Option[String] = None
      Files.readAllLines(f).asScala.flatMap { line =>
        objectDecl.findFirstMatchIn(line).foreach(m => owner = Some(m.group(1)))
        if (mainDecl.findFirstIn(line).isDefined) owner.map(f -> _) else None
      }
    }.sortBy(_._2)
  }

  test("every main under src/main/scala is named in the verify skill") {
    val found = mains(Paths.get("src/main/scala"))
    // the entry points the skill's recipes drive must be among them
    Seq("Bench", "Verify", "Cli").foreach(n =>
      assert(found.exists(_._2 == n), s"main $n not found"))
    val skill = new String(
      Files.readAllBytes(Paths.get(".claude/skills/verify/SKILL.md")), "UTF-8")
    val unlisted = found.filterNot { case (_, n) =>
      ("\\b" + n + "\\b").r.findFirstIn(skill).isDefined
    }
    assert(unlisted.isEmpty,
      s"${unlisted.size} mains are not named in .claude/skills/verify/SKILL.md: " +
        unlisted.map { case (f, n) => s"$n ($f)" }.mkString(", "))
  }
}
