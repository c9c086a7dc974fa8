package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every persist in the catalog and the operators goes through
  * `operators.Rounds.Scope`, whose scope frees it on success and on
  * failure. The exceptions are the lazy-result sites: a `.cache()` or
  * checkpoint that the returned lazy plan reads, which no scope may
  * free. Each is named here by its file and enclosing `def`, so a new
  * unscoped persist fails this spec instead of passing review. */
class PersistSiteSpec extends AnyFunSuite {

  /** Spark's own persist calls: `cache()`, `persist()` or
    * `persist(level)`, and both checkpoint forms. A scope's
    * `persist(df)` does not match. */
  private val persistCall =
    """\.cache\(\)|\.persist\(\s*(\)|StorageLevel)|localCheckpoint\(|\.checkpoint\(""".r

  private val defLine =
    """^\s*(?:(?:private|protected)(?:\[\w+\])?\s+)?def\s+(\w+)""".r.unanchored

  private val lazyResultSites = Set(
    "graft/SparkEntry.scala" -> "qNgramLmScore",
    "graft/SparkEntry.scala" -> "qDupSpans",
    "graft/SparkEntry.scala" -> "qDenseIds",
    "graft/SparkEntry.scala" -> "qSortedNeighborhood",
    "graft/SparkEntry.scala" -> "qNeighborAgg",
    "graft/SparkEntry.scala" -> "qDedupEmbedding",
    "graft/SparkEntry.scala" -> "qAnnLsh",
    "graft/SparkEntry.scala" -> "qAnnIvf",
    "graft/SparkEntry.scala" -> "qPipelineE2e",
    "graft/SparkEntry.scala" -> "qCmsHeavyHitters",
    "graft/SparkEntry.scala" -> "qQuantileNormalize",
    "graft/SparkEntry.scala" -> "qPermTest",
    "graft/operators/Dedup.scala" -> "exactSimJoin",
    "graft/operators/Dedup.scala" -> "containmentJoin",
    "graft/operators/KMeans.scala" -> "assign")

  test("persists in SparkEntry.scala and operators/ outside Rounds.scala are the lazy-result sites") {
    val root = Paths.get("src/main/scala")
    val operators = root.resolve("graft/operators")
    assert(Files.isDirectory(operators), operators.toAbsolutePath)
    val listing = Files.list(operators)
    val files = try root.resolve("graft/SparkEntry.scala") +: listing.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Rounds.scala")
      .toSeq.sorted
    finally listing.close()
    val sites = files.flatMap { (p: Path) =>
      val lines = Files.readAllLines(p).asScala.toIndexedSeq
      lines.indices.filter { i =>
        val t = lines(i).trim
        !t.startsWith("*") && !t.startsWith("/*") &&
          persistCall.findFirstIn(lines(i).split("//", 2)(0)).isDefined
      }.map { i =>
        val enclosing = (i to 0 by -1).iterator.map(lines).collectFirst {
          case defLine(name) => name
        }.getOrElse("<none>")
        root.relativize(p).toString -> enclosing
      }
    }.toSet
    assert((sites -- lazyResultSites).isEmpty,
      s"persists outside Rounds.Scope: ${(sites -- lazyResultSites).toSeq.sorted}")
    assert((lazyResultSites -- sites).isEmpty,
      s"listed lazy-result sites with no persist left: ${(lazyResultSites -- sites).toSeq.sorted}")
  }
}
