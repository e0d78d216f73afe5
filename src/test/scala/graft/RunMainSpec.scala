package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `runMain graft.<X>` / `Test/runMain graft.<X>` that the README,
  * the scripts and the skill notes tell a reader to run names an object
  * that loads and has a `main`, so deleting a tool fails here until the
  * docs and scripts that still invoke it are updated.
  */
class RunMainSpec extends AnyFunSuite {

  private def docs: Seq[Path] = {
    def list(dir: String): Seq[Path] = {
      val d = Paths.get(dir)
      if (Files.isDirectory(d)) Files.list(d).iterator.asScala.toSeq.sorted else Nil
    }
    Paths.get("README.md") +: (list("scripts").filter(_.toString.endsWith(".sh")) ++
      list(".claude/skills").map(_.resolve("SKILL.md")).filter(Files.isRegularFile(_)))
  }

  test("every runMain named in the README, scripts and skill notes resolves to a main") {
    val named = docs.flatMap { p =>
      """runMain\s+graft\.(\w+)""".r.findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> p)
    }.distinct
    assert(Set("Verify", "GenSf1").subsetOf(named.map(_._1).toSet),
      s"expected the Verify and GenSf1 invocations, found: $named")
    val broken = named.filterNot { case (obj, _) =>
      scala.util.Try {
        Class.forName(s"graft.$obj$$", false, getClass.getClassLoader)
          .getMethod("main", classOf[Array[String]])
      }.isSuccess
    }
    assert(broken.isEmpty, s"runMain targets with no loadable main: $broken")
  }
}
