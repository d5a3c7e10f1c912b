package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every `spark.graft.*` conf the engine reads is a documented knob: the
  * README's Configuration table lists exactly the keys that appear as
  * string literals under `src/main`, so a switch cannot be added (or
  * outlive its code) undocumented. Runs from the repository root, the
  * working directory of `sbt test`. */
class ConfigKeysSpec extends AnyFunSuite {

  private val Key = """spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]"""

  private def keysInSource: Set[String] = {
    val literal = ("\"(" + Key + ")\"").r
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap((p: Path) =>
      literal.findAllMatchIn(Files.readString(p)).map(_.group(1))).toSet
  }

  private def keysInReadme: Set[String] = {
    val readme = Files.readString(Paths.get("README.md"))
    val section = readme.split("\n## ").find(_.startsWith("Configuration"))
      .getOrElse(fail("README.md has no '## Configuration' section"))
    ("""(?m)^\|\s*`(""" + Key + ")`").r.findAllMatchIn(section).map(_.group(1)).toSet
  }

  test("README Configuration table lists every spark.graft.* key read under src/main") {
    val used = keysInSource
    assert(used.nonEmpty, "no spark.graft.* literal found under src/main")
    val documented = keysInReadme
    assert((used -- documented).isEmpty,
      s"undocumented keys: ${(used -- documented).toSeq.sorted.mkString(", ")}")
    assert((documented -- used).isEmpty,
      s"documented keys no code reads: ${(documented -- used).toSeq.sorted.mkString(", ")}")
  }
}
