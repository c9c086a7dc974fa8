package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every program session is built by `Tuning.localSession` (or, in the
  * frozen `Bench` harness, on `Tuning.engineDefaults` directly), so none can
  * miss the fork-free filesystem or the partition-invariance knobs. */
class SessionBuilderSpec extends AnyFunSuite {
  test("SparkSession.builder appears in src/main only in Tuning.scala and Bench.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val files = Files.walk(root)
    val builders = try files.iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map((p: Path) => root.relativize(p).toString).toSeq.sorted
    finally files.close()
    assert(builders == Seq("graft/Bench.scala", "graft/Tuning.scala"))
  }
}
