package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Destination abstraction for the Firestore/RTDB write path
  * (reference A14/A15: micro-batched WriteBatch upserts,
  * firebase/app/artifacts.py:302-327, doc ref = {target_path}/{id},
  * helpers.py:98-103).
  *
  * Implementations must be idempotent upserts keyed by (targetPath,
  * docId) — `set` semantics — so at-least-once replays converge
  * (artifacts.py:405-406). A real Firestore implementation would wrap
  * the Admin SDK WriteBatch; tests and the oracle use the local
  * filesystem sink below. Writers go through [[DocumentSink.Committer]],
  * one per task, executor-side — no document funnels through one process.
  */
trait DocumentSink extends Serializable {
  /** Max docs per commit batch (MAX_SUBMIT = 50, artifacts.py:304). */
  def maxSubmit: Int = 50

  /** Upsert one batch (≤ maxSubmit docs) atomically-ish. */
  def commitBatch(docs: Seq[DocumentSink.Doc]): Unit

  /** Connection test (reference A19: test_connection creates a ref and
    * maps failure to an error, artifacts.py:112-124). */
  def testConnection(): Either[String, Unit] = Right(())
}

object DocumentSink {
  /** One document write: destination collection path, doc id, JSON body. */
  final case class Doc(targetPath: String, docId: String, json: String)

  /** The one way a task writes documents: each written document joins a
    * buffer that is committed to the task's sink whenever it holds the
    * sink's `maxSubmit` documents, and `flush` commits the last partial
    * group. The sink is made on the first write, so a task that writes
    * nothing opens none. */
  final class Committer(mkSink: () => DocumentSink) {
    private lazy val sink = mkSink()
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Doc]

    def write(d: Doc): Unit = {
      buf += d
      if (buf.size >= sink.maxSubmit) flush()
    }

    def flush(): Unit =
      if (buf.nonEmpty) { sink.commitBatch(buf.toList); buf.clear() }
  }
}

/** Filesystem document store emulating Firestore's collection/document
  * layout: {root}/{target_path}/{doc_id}.json. Writes are atomic
  * (tmp + move) so replays/overwrites are safe; doc id is the file
  * name, making the upsert idempotent by construction. The layout
  * itself — which file holds which (target_path, doc_id) — is defined
  * in the companion, which `graft-cfs` reads through. */
final class JsonFileSink(root: String) extends DocumentSink {
  override def testConnection(): Either[String, Unit] = {
    val dir = new java.io.File(root)
    if ((dir.exists || dir.mkdirs()) && dir.canWrite) Right(())
    else Left(s"sink root not writable: $root")
  }

  // Per-doc write cost discipline (r20): the old path paid FOUR
  // filesystem/entropy ops per document — createDirectories (even
  // when the dir existed), Files.createTempFile (a SecureRandom name
  // draw + create-retry loop, which CONTENDS across writer tasks:
  // the 32-task parallel store write burned 13× the CPU per doc of
  // the serial one, all in metadata ops), the data write, and the
  // atomic move. Now: the mkdir is memoized per collection (sink
  // instances are per-task), and the tmp name is a cheap unique
  // (pid, thread, counter) triple — unique per live writer by
  // construction, and a stale crash leftover with the same name is
  // simply truncated and re-moved, which the idempotent-upsert
  // contract already permits. Readers never see tmp files (they
  // filter on the .json suffix); the write remains tmp+ATOMIC_MOVE.
  @transient private lazy val mkdirSeen =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  @transient private lazy val tmpSeq =
    new java.util.concurrent.atomic.AtomicLong()
  @transient private lazy val pid = ProcessHandle.current().pid()

  override def commitBatch(docs: Seq[DocumentSink.Doc]): Unit =
    docs.foreach { d =>
      val dir = JsonFileSink.collectionDir(root, d.targetPath)
      if (mkdirSeen.add(dir.toString)) Files.createDirectories(dir)
      val tmp = dir.resolve(
        s".doc-$pid-${Thread.currentThread().getId}-${tmpSeq.incrementAndGet()}.tmp")
      Files.write(tmp, d.json.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, JsonFileSink.docFile(dir, d.docId),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    }
}

/** The store layout, both ways: collection `a/b` is the directory
  * {root}/a/b (empty segments ignored) and document `id` the file
  * {id}.json in it. Doc ids and path segments come from message
  * content, so each is percent-encoded — anything but letters, digits,
  * '-', '_' and '.' as `%xx` (up to U+00FF) or `%uxxxx` (above it), and
  * a segment `.` or `..` as `%2e`s — and the (targetPath, docId) key
  * cannot traverse outside the root. Reads decode the names back. */
object JsonFileSink {
  private def encode(segment: String): String =
    segment.flatMap {
      case c if c.isLetterOrDigit || c == '-' || c == '_' || c == '.' => c.toString
      case c if c <= 0xff => f"%%${c.toInt}%02x"
      case c => f"%%u${c.toInt}%04x"
    } match {
      case s if s == "." || s == ".." => s.replace(".", "%2e")
      case s => s
    }

  private val Escaped = "%(?:u([0-9a-f]{4})|([0-9a-f]{2}))".r
  private def decode(name: String): String =
    Escaped.replaceAllIn(name, m => scala.util.matching.Regex.quoteReplacement(
      Integer.parseInt(Option(m.group(1)).getOrElse(m.group(2)), 16).toChar.toString))

  private def rootPath(root: String): Path = Paths.get(root).toAbsolutePath.normalize

  private def collectionDir(root: String, targetPath: String): Path = {
    val base = rootPath(root)
    val dir = targetPath.split("/").filter(_.nonEmpty)
      .foldLeft(base)((p, seg) => p.resolve(encode(seg))).normalize
    require(dir.startsWith(base), s"path escapes sink root: $targetPath")
    dir
  }

  private def docFile(dir: Path, docId: String): Path = dir.resolve(s"${encode(docId)}.json")

  private def isDoc(f: Path): Boolean = f.getFileName.toString.endsWith(".json")
  private def docIdOf(f: Path): String = decode(f.getFileName.toString.stripSuffix(".json"))
  private def nameOf(base: Path, dir: Path): String =
    base.relativize(dir).iterator().asScala.map(s => decode(s.toString)).mkString("/")

  /** The directory of collection `name`, when it exists and `name` is
    * the name it reads back as. */
  def collection(root: String, name: String): Option[Path] = {
    val dir = collectionDir(root, name)
    if (Files.isDirectory(dir) && nameOf(rootPath(root), dir) == name) Some(dir) else None
  }

  /** Every collection that holds a document: (name, directory), by directory. */
  def collections(root: String): Seq[(String, Path)] = {
    val base = rootPath(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala.filter(isDoc).map(_.getParent).toSet.toSeq
      .sortBy((d: Path) => d.toString).map(d => nameOf(base, d) -> d)
    finally walk.close()
  }

  /** The file of document `docId` in collection directory `dir`, when it exists. */
  def doc(dir: Path, docId: String): Option[Path] =
    Some(docFile(dir, docId)).filter(f => Files.exists(f) && docIdOf(f) == docId)

  /** Every document in collection directory `dir`: (doc id, file), by file name. */
  def docs(dir: Path): Seq[(String, Path)] = {
    val listed = Files.list(dir)
    try listed.iterator().asScala.filter(isDoc).toSeq
      .sortBy(_.getFileName.toString).map(f => docIdOf(f) -> f)
    finally listed.close()
  }
}
