package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards the shape of the shipped program: its entry points and its
  * `spark.graft.*` option set. Benchmarking lives in `lakebench/`, so a dev
  * main or an A/B knob added under `src/main` shows up here first. */
class SourceInventorySpec extends AnyFunSuite {
  private val root = new File("src/main/scala")

  private lazy val sources: Seq[(File, String)] = {
    assert(root.isDirectory, s"run from the repo root (no $root)")
    Files.walk(root.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => (p.toFile, new String(Files.readAllBytes(p), "UTF-8")))
      .toSeq
  }

  /** `package.Object` of every object declaring a `main` or extending App. */
  private def entryPoints: Set[String] = sources.flatMap { case (_, text) =>
    val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(text)
      .map(_.group(1) + ".").getOrElse("")
    val objects = """\bobject\s+(\w+)""".r.findAllMatchIn(text).toSeq
    def owner(at: Int): String =
      objects.takeWhile(_.start < at).lastOption.map(_.group(1)).getOrElse("?")
    val mains = """\bdef\s+main\s*\(""".r.findAllMatchIn(text)
      .map(m => owner(m.start))
    val apps = """\bobject\s+(\w+)[^{]*\bextends\s+App\b""".r
      .findAllMatchIn(text).map(_.group(1))
    (mains ++ apps).map(pkg + _)
  }.toSet

  test("the only entry points are graft.Verify and graft.cdc.CdcMain") {
    assert(entryPoints == Set("graft.Verify", "graft.cdc.CdcMain"))
  }

  test("the only spark.graft.* option is documented electHashMaxRows") {
    val keys = sources.flatMap { case (_, text) =>
      """spark\.graft\.[\w.]*""".r.findAllIn(text)
    }.toSet
    assert(keys == Set("spark.graft.mor.electHashMaxRows"))
    val readme = new String(Files.readAllBytes(new File("README.md").toPath),
      "UTF-8")
    keys.foreach(k => assert(readme.contains(k), s"README does not document $k"))
  }
}
