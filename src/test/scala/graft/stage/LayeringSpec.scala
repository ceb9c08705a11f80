package graft.stage

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source-level guard for the staging layer: temp-dir creation,
  * recursive deletes and the warehouse-location lookup live only in
  * `graft/stage` (and in `main` entry points), library code reads no
  * environment variables, and `graft.ops` never calls up into
  * `graft.ext`. */
class LayeringSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  /** (path relative to `graft/`, 1-based line number, line) of every
    * non-comment line of every source file. */
  private lazy val lines: Seq[(String, Int, String)] = {
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    files.flatMap { f =>
      val rel = root.relativize(f).toString
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if !isComment(l) => (rel, i + 1, l)
      }
    }
  }

  private def isComment(l: String): Boolean = {
    val t = l.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  private lazy val mains: Set[String] = lines.collect {
    case (f, _, l) if l.contains("def main(args: Array[String])") => f
  }.toSet

  private def offenders(where: String => Boolean, bad: String => Boolean) =
    lines.collect { case (f, n, l) if where(f) && bad(l) => s"$f:$n: ${l.trim}" }

  test("temp dirs, recursive deletes and warehouse lookups exist only in graft/stage and main objects") {
    val recursiveRm = raw"def \w+\(\w+: java\.io\.File\)".r
    val found = offenders(
      f => !f.startsWith("stage/") && !mains(f),
      l => l.contains("createTempDirectory") ||
        l.contains("spark.sql.warehouse.dir") ||
        l.contains("reverseOrder") ||
        l.contains("listFiles()).foreach") ||
        recursiveRm.findFirstIn(l).isDefined)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("library layers read no environment variables") {
    val layers = Seq("ext/", "ops/", "sources/", "render/", "pipelines/", "functions/")
    val found = offenders(f => layers.exists(f.startsWith), _.contains("sys.env"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("graft.ops does not reference graft.ext") {
    val found = offenders(_.startsWith("ops/"), _.contains("graft.ext"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("the guard sees the tree it guards") {
    assert(lines.exists { case (f, _, l) =>
      f == "stage/Stage.scala" && l.contains("createTempDirectory") })
  }
}
