package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard for the entry points: every object under `src/main/scala`
  * that declares a `main` has a recipe in README's "Running the mains",
  * and every recipe there names one. A new tool is documented or it is
  * dropped. */
class MainsSpec extends AnyFunSuite {

  /** Fully qualified names of the objects that declare `def main`. A
    * `main` belongs to the last `object` declared above it in its file. */
  def declaredMains(root: String): Set[String] = {
    val pkg = raw"(?m)^package\s+([\w.]+)".r
    val obj = raw"\bobject\s+(\w+)".r
    val main = raw"\bdef\s+main\s*\(".r
    val walk = Files.walk(Paths.get(root))
    val files: Seq[Path] =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    files.flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      val prefix = pkg.findFirstMatchIn(text).map(_.group(1) + ".").getOrElse("")
      val objects = obj.findAllMatchIn(text).toSeq
      main.findAllMatchIn(text).map { m =>
        val owner = objects.takeWhile(_.start < m.start).lastOption
        assert(owner.isDefined, s"$p declares a main outside any object")
        prefix + owner.get.group(1)
      }
    }.toSet
  }

  /** The `runMain` targets of README's "Running the mains" section. */
  def documentedMains(readme: String): Set[String] = {
    val text = new String(Files.readAllBytes(Paths.get(readme)), "UTF-8")
    val start = text.indexOf("## Running the mains")
    assert(start >= 0, "README has no \"Running the mains\" section")
    val next = text.indexOf("\n## ", start + 1)
    val section = text.substring(start, if (next < 0) text.length else next)
    raw"runMain\s+([\w.]+)".r.findAllMatchIn(section).map(_.group(1)).toSet
  }

  test("the objects that declare main are exactly the mains README runs") {
    val declared = declaredMains("src/main/scala")
    assert(declared.contains("graft.Verify"))
    assert(declared === documentedMains("README.md"))
  }
}
