package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[Storage]] the one way the engine materializes a frame: no
  * source under `src/main/scala` may persist, checkpoint or release a
  * frame except `Storage.scala` and the release helper's definition in
  * `Glue.scala`. Comments are ignored; each offending call is named with
  * its file and line. */
class StorageGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val calls =
    """localCheckpoint\(|\.persist\(|\.unpersist\(|checkpoint\(|releaseLocalCheckpoint""".r
  private val allowed = Set(
    root.resolve("graft/Storage.scala"),
    root.resolve("org/apache/spark/sql/graftglue/Glue.scala"))

  /** `line` with its `//` comment cut off; blank for a scaladoc/block
    * comment line. */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*")) ""
    else line.indexOf("//") match {
      case -1 => line
      case i => line.substring(0, i)
    }
  }

  private[graft] def offenders(files: Seq[Path]): Seq[String] =
    files.filterNot(allowed).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if calls.findFirstIn(code(line)).isDefined =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }

  private def sources: Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted

  test("src/main materializes and releases frames only through Storage") {
    assert(sources.size > 50, s"no sources found under $root")
    val bad = offenders(sources)
    assert(bad.isEmpty, "materialization outside graft.Storage:\n" +
      bad.mkString("\n"))
  }

  test("the guard names each offending call and skips comments") {
    val dir = Files.createTempDirectory("storage_guard")
    val f = dir.resolve("Offender.scala")
    Files.write(f, Seq(
      "object Offender {",
      "  // a comment may say df.persist() freely",
      "  def a(df: DataFrame) = df.persist()",
      "  def b(df: DataFrame) = df.localCheckpoint(true)",
      "  def c(df: DataFrame) = Glue.releaseLocalCheckpoint(df)",
      "}").asJava)
    val got = offenders(Seq(f))
    assert(got.map(_.takeWhile(_ != ' ')) ==
      Seq(s"$f:3:", s"$f:4:", s"$f:5:"), got.mkString("\n"))
    // the Storage definition itself is allowed
    assert(offenders(Seq(root.resolve("graft/Storage.scala"))).isEmpty)
  }
}
