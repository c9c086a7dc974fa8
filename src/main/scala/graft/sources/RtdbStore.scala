package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Generic RTDB path read/write (reference A15: `read_rtdb` /
  * `write_rtdb` over `rtdb.reference(path).get()/.set(value)`,
  * firebase/app/helpers.py:69-88; value domain exercised by
  * firebase/tests/test_unit.py:53-60 — scalars, lists, maps).
  *
  * RTDB is one JSON tree addressed by '/'-separated paths; `get`
  * returns the subtree (JNothing when absent, the reference's None),
  * `set` replaces it, `set(JNothing)` deletes. This implementation
  * keeps the tree in a single file with atomic tmp+move rewrites — the
  * CONTROL-plane store (config mirror, connection tests, small
  * metadata), deliberately not the data plane: document traffic goes
  * through [[DocumentSink]]'s batched executor-side upserts and
  * per-entity hashes through the partitioned
  * [[graft.streaming.HashStore]], so this tree never sees
  * per-document volume at scale.
  */
trait RtdbStore {
  /** Subtree at `path`; JNothing = absent (ref.get() → None). */
  def get(path: String): JValue
  /** Replace the subtree at `path`; JNothing deletes the node. */
  def set(path: String, value: JValue): Unit
}

object RtdbStore {
  private[sources] def segments(path: String): Seq[String] =
    path.split("/").filter(_.nonEmpty).toSeq

  /** Navigate `tree` to the subtree at `path`. */
  def getAt(tree: JValue, path: String): JValue =
    segments(path).foldLeft(tree) {
      case (JObject(fields), seg) =>
        fields.find(_._1 == seg).map(_._2).getOrElse(JNothing)
      case _ => JNothing
    }

  /** Functionally replace the subtree at `path` (building missing
    * intermediate objects, pruning deleted/empty nodes). */
  def setAt(tree: JValue, path: String, value: JValue): JValue = {
    def go(node: JValue, segs: Seq[String]): JValue = segs match {
      case Seq() => value
      case seg +: rest =>
        val fields = node match { case JObject(f) => f; case _ => Nil }
        val updated = go(fields.find(_._1 == seg).map(_._2).getOrElse(JNothing), rest)
        val kept = fields.filterNot(_._1 == seg) ++
          (if (updated == JNothing) Nil else List(seg -> updated))
        if (kept.isEmpty) JNothing else JObject(kept)
    }
    go(tree, segments(path))
  }
}

/** File-backed [[RtdbStore]]: the whole tree in `{file}`, rewritten
  * atomically per set. */
final class JsonTreeRtdb(file: String) extends RtdbStore {
  private def load(): JValue = {
    val p = Paths.get(file)
    if (Files.exists(p)) JsonMethods.parse(Files.readString(p)) else JObject()
  }

  def get(path: String): JValue = synchronized { RtdbStore.getAt(load(), path) }

  def set(path: String, value: JValue): Unit = synchronized {
    val updated = RtdbStore.setAt(load(), path, value) match {
      case JNothing => JObject()
      case other => other
    }
    val p = Paths.get(file).toAbsolutePath
    Files.createDirectories(p.getParent)
    val tmp = Files.createTempFile(p.getParent, ".rtdb", ".tmp")
    Files.write(tmp, JsonMethods.compact(JsonMethods.render(updated))
      .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE): Unit
  }
}
