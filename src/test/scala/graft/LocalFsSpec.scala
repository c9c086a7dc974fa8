package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{ChecksumException, ChecksumFileSystem, FileContext, FileSystem,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.sources.{JsonFileSink, NioLocalFileSystem, NioLocalFs}
import graft.streaming.StreamingJob

/** The session's `file:` filesystem: the fork-free classes from
  * `Tuning.engineDefaults`, with Hadoop's local semantics intact. */
class LocalFsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def conf = spark.sessionState.newHadoopConf()
  private def fs = FileSystem.get(new URI("file:///"), conf)
  private def fc = FileContext.getFileContext(new URI("file:///"), conf)
  private def tmp(): JPath = Files.createTempDirectory("graft-localfs")
  private def hpath(p: JPath) = new Path(p.toString)
  private def mode(p: JPath) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def write(p: JPath, s: String): Unit = {
    val out = fs.create(hpath(p), true)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  private def read(p: JPath): String = {
    val in = fs.open(hpath(p))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("the session's file: FileSystem and FileContext are the NIO classes") {
    // the FileSystem cache key ignores the conf: a default instance cached
    // before the session would be returned here
    assert(fs.getClass == classOf[NioLocalFileSystem])
    assert(fc.getDefaultFileSystem.getClass == classOf[NioLocalFs])
  }

  test("create and mkdirs apply exactly the requested POSIX modes") {
    val dir = tmp()
    val file = dir.resolve("f")
    fs.create(hpath(file), new FsPermission("640"), true, 4096, 1.toShort, 1L << 26, null).close()
    assert(mode(file) == "rw-r-----")
    val sub = dir.resolve("d")
    assert(fs.mkdirs(hpath(sub), new FsPermission("750")))
    assert(mode(sub) == "rwxr-x---")
  }

  test("a sticky-bit permission still applies") {
    val dir = Files.createDirectory(tmp().resolve("sticky"))
    fs.setPermission(hpath(dir), new FsPermission("1777"))
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff) == Integer.parseInt("1777", 8))
  }

  test("FileContext rename with OVERWRITE replaces the file and its .crc") {
    val dir = tmp()
    val (src, dst) = (dir.resolve("src"), dir.resolve("dst"))
    write(dst, "old contents")
    write(src, "new")
    fc.rename(hpath(src), hpath(dst), Options.Rename.OVERWRITE)
    assert(!Files.exists(src) && !Files.exists(dir.resolve(".src.crc")))
    assert(Files.exists(dir.resolve(".dst.crc")))
    assert(read(dst) == "new") // a stale .crc would fail the checksum read
  }

  test("getFileLinkStatus reports a real symlink, and a regular file as none") {
    val dir = tmp()
    val target = Files.writeString(dir.resolve("target"), "x")
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val st = fs.getFileLinkStatus(hpath(link))
    assert(st.isSymlink)
    assert(st.getSymlink == fs.makeQualified(hpath(target)))
    assert(!fs.getFileLinkStatus(hpath(target)).isSymlink)
  }

  test("the checksum layer is intact: a flipped byte fails the read") {
    assert(fs.isInstanceOf[ChecksumFileSystem])
    val file = tmp().resolve("data")
    write(file, "checksummed payload")
    assert(Files.exists(file.resolveSibling(".data.crc")))
    val raf = new RandomAccessFile(file.toFile, "rw")
    try { raf.seek(3); raf.write(raf.read() ^ 0xff) } finally raf.close()
    // read through FileContext: on a checksum error the FileSystem variant
    // moves the file into a `bad_files` dir at its highest writable ancestor
    Seq(fc.open(hpath(file), 4096), fc.open(hpath(file))).foreach { in =>
      try intercept[ChecksumException](in.readAllBytes()) finally in.close()
    }
  }

  test("a restarted streaming job fails on a corrupted offset log instead of resuming from it") {
    val (input, sinkRoot, work) = (tmp().resolve("in").toString, tmp().toString, tmp())
    val sub = Subscription("crc", "crc", "t?", FbOptions(
      syncMode = "sync", targetPath = "_aether/entities/{topic}"))
    def batch(ids: Range) = ids.map(i => ("tnt.t1", i.toLong, s"name-$i"))
      .toDF("kafka_topic", "id", "name")
    def start() = new StreamingJob(spark, Seq(sub), "tnt", () => new JsonFileSink(sinkRoot),
      s"$work/hashes", s"$work/ckpt").start(spark.readStream.schema(batch(1 to 1).schema).parquet(input))
    batch(1 to 10).coalesce(1).write.parquet(input)
    val q = start()
    try {
      q.processAllAvailable()
      batch(11 to 20).coalesce(1).write.mode("append").parquet(input)
      q.processAllAvailable()
    } finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) == 2)

    // the file source's offset is the last line: {"logOffset":1}; make it 0,
    // same length and still valid JSON, so only the .crc can tell
    val log = work.resolve("ckpt/offsets/1")
    val text = Files.readString(log, UTF_8)
    assert(text.endsWith("""{"logOffset":1}"""), text)
    Files.writeString(log, text.dropRight(2) + "0}", UTF_8)

    val restarted = start()
    val err = try intercept[Exception](restarted.processAllAvailable()) finally restarted.stop()
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(_.isInstanceOf[ChecksumException]), causes.mkString("\n"))
  }

  test("a SYNC streaming job's checkpoint, hash-store merge and manifest flip start no Hadoop shell process") {
    val (input, sinkRoot, work) = (tmp().resolve("in").toString, tmp().toString, tmp())
    val sub = Subscription("fork", "fork", "t?", FbOptions(
      syncMode = "sync", targetPath = "_aether/entities/{topic}"))
    def batch(ids: Range) = ids.map(i => ("tnt.t1", i.toLong, s"name-$i"))
      .toDF("kafka_topic", "id", "name")
    batch(1 to 10).coalesce(1).write.parquet(input)
    val job = new StreamingJob(spark, Seq(sub), "tnt", () => new JsonFileSink(sinkRoot),
      s"$work/hashes", s"$work/ckpt")

    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val q = job.start(spark.readStream.schema(batch(1 to 1).schema).parquet(input))
    try {
      q.processAllAvailable()
      batch(5 to 14).coalesce(1).write.mode("append").parquet(input)
      q.processAllAvailable()
    } finally { q.stop(); rec.stop() }
    val jfr = work.resolve("fork.jfr")
    rec.dump(jfr)
    rec.close()

    assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    assert(job.hashStore.load().count() == 14)
    val shell = RecordingFile.readAllEvents(jfr).asScala.filter { e =>
      Option(e.getStackTrace).exists(_.getFrames.asScala
        .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell")))
    }
    assert(shell.isEmpty, shell.map(_.getString("command")).mkString("forked: ", "; ", ""))
  }
}
