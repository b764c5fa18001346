package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The library's runnable surface is a fixed set of harness mains and
  * demos. Profiling goes through the traced benchmark and
  * `graft.Explain`, so a new `def main` needs an explicit edit here.
  */
class EntryPointSpec extends AnyFunSuite {

  private val kept = Seq(
    "graft.Bench", "graft.BenchScale", "graft.Explain", "graft.ProbeFleetScale", "graft.Verify",
    "graft.examples.CorpusDemo", "graft.examples.FleetDemo", "graft.streaming.StreamDemo")

  /** `package.Object` for every `def main(` under `root`, named by the
    * nearest top-level `object` declared above it (a runnable main
    * lives in a top-level object).
    */
  private def mains(root: java.nio.file.Path): Seq[String] = {
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
      val src = java.nio.file.Files.readString(f)
      val pkg = """(?m)^package\s+([\w.]+)""".r.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
      val objects = """(?m)^object\s+(\w+)""".r.findAllMatchIn(src).toSeq
      """\bdef\s+main\s*\(""".r.findAllMatchIn(src).toSeq.map { m =>
        pkg + objects.filter(_.start < m.start).lastOption.map(_.group(1)).getOrElse("?")
      }
    } finally files.close()
  }

  test("src/main/scala has exactly the kept entry points") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repository root: $root")
    assert(mains(root).sorted == kept.sorted)
  }
}
