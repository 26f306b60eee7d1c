package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The program's entry points are the oracle driver, the two benches and
  * the three library demos the verify walkthrough runs. Per-question
  * measurement belongs in `perfbench` (`--trace 1`) or a spec, not in
  * another one-off main under `src/main`. Reads the sources only; no
  * Spark. */
class MainsSpec extends AnyFunSuite {

  // declarations start a line, which keeps the prose of comments out
  private val objectDecl = """(?m)^\s*object\s+(\w+)""".r
  private val mainDecl = """(?m)^\s*def\s+main\s*\(""".r

  /** `package.Object` for every object that declares `def main` in
    * `file`: each main belongs to the nearest object declared before it. */
  private def mains(file: Path): Seq[String] = {
    val src = new String(Files.readAllBytes(file), "UTF-8")
    val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(src)
      .map(_.group(1) + ".").getOrElse("")
    val objects = objectDecl.findAllMatchIn(src).toSeq
    mainDecl.findAllMatchIn(src).flatMap(m =>
      objects.takeWhile(_.start < m.start).lastOption.map(pkg + _.group(1))).toSeq
  }

  test("src/main declares exactly the six intended mains") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val found = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).flatMap(mains).toSet
    assert(found == Set("graft.Verify", "graft.Bench", "graft.IngestBench",
      "graft.examples.CollectorDemo", "graft.examples.TrainingPrepDemo",
      "graft.examples.EntrySmoke"),
      s"unexpected mains: ${found.toSeq.sorted.mkString(", ")}")
  }
}
