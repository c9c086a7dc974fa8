package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Documents are written in two places only: the stream's bucket pass
  * (`HashStore.walk`) and the `graft-cfs` writer. Each makes one
  * `DocumentSink.Committer` per task, and no other code of `streaming/`
  * writes from a `foreachPartition` of its own. */
class OneWriterSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private def sources(): Seq[(String, IndexedSeq[String])] = {
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map((p: Path) => root.relativize(p).toString -> Files.readAllLines(p).asScala.toIndexedSeq)
      .toSeq.sortBy(_._1)
    finally files.close()
  }

  private val Made = """\bnew\s+(?:DocumentSink\.)?Committer\b""".r.unanchored
  private val Def = """\bdef\s+(\w+)""".r.unanchored

  test("DocumentSink.Committer is made only in HashStore.walk and the graft-cfs writer") {
    // each construction as "<file>: <enclosing def>"
    val sites = for {
      (file, lines) <- sources()
      (line, i) <- lines.zipWithIndex if Made.matches(line)
    } yield s"$file: ${lines.take(i).reverse.collectFirst { case Def(n) => n }.getOrElse("?")}"
    assert(sites.sorted == Seq(
      "graft/sources/CfsDataSource.scala: createWriter",
      "graft/streaming/Pipeline.scala: walk"))
  }

  test("streaming/ runs no foreachPartition") {
    val found = sources().collect {
      case (file, lines) if file.startsWith("graft/streaming/") &&
        lines.exists(_.contains("foreachPartition")) => file
    }
    assert(found.isEmpty)
  }
}
