package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.json4s._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** Generic RTDB/CFS read-write surface (reference A15/A16,
  * helpers.py:69-114), mirroring firebase/tests/test_unit.py:53-85:
  * RTDB scalar/list/map round-trips, CFS doc set/get/delete, and the
  * collection/doc path alternation. CFS reads go through `graft-cfs`,
  * the one `read_cfs`. */
class RtdbCfsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-rtdb").toString

  private def collection(root: String, path: String): DataFrame =
    spark.read.format("graft-cfs").option("root", root).load()
      .filter(col("collection") === path)

  /** read_cfs(path, doc_id): the document's JSON, None when absent. */
  private def readDoc(root: String, path: String, docId: String): Option[String] =
    collection(root, path).filter(col("doc_id") === docId).select("json").as[String]
      .collect().headOption

  /** read_cfs(path): every (doc id, JSON) in the collection. */
  private def readCollection(root: String, path: String): Seq[(String, String)] =
    collection(root, path).select("doc_id", "json").as[(String, String)]
      .collect().toSeq.sortBy(_._1)

  test("rtdb: get of unset path is None; scalar/list/map values round-trip (test_unit.py:53-60)") {
    val db = new JsonTreeRtdb(s"${tmp()}/tree.json")
    assert(db.get("/some/path") == JNothing)
    val values: Seq[JValue] = Seq(
      JInt(1), JDouble(1.0), JString("a"),
      JArray(List(JInt(1), JInt(2), JInt(3))),
      JObject(List("a" -> JString("b"))))
    values.foreach { v =>
      db.set("/some/path", v)
      assert(db.get("/some/path") == v, v)
    }
  }

  test("rtdb: subtree get/set and delete prune correctly") {
    val db = new JsonTreeRtdb(s"${tmp()}/tree.json")
    db.set("a/b/c", JInt(1))
    db.set("a/b/d", JInt(2))
    assert(db.get("a/b") == JObject(List("c" -> JInt(1), "d" -> JInt(2))))
    db.set("a/b/c", JNothing) // delete
    assert(db.get("a/b/c") == JNothing)
    assert(db.get("a/b") == JObject(List("d" -> JInt(2))))
    // setting a subtree replaces, not merges (RTDB set semantics)
    db.set("a/b", JString("flat"))
    assert(db.get("a/b") == JString("flat"))
  }

  test("rtdb: persists across store instances (it is a file, not memory)") {
    val f = s"${tmp()}/tree.json"
    new JsonTreeRtdb(f).set("x/y", JInt(42))
    assert(new JsonTreeRtdb(f).get("x/y") == JInt(42))
  }

  test("cfs: doc set/get/delete-equivalent round-trip (test_unit.py:63-70)") {
    val root = tmp()
    val sink = new JsonFileSink(root)
    val doc = """{"key":"t_val"}"""
    sink.commitBatch(Seq(DocumentSink.Doc("test", "adoc", doc)))
    assert(readDoc(root, "test", "adoc").contains(doc))
    assert(readDoc(root, "test", "missing").isEmpty)
  }

  test("cfs: collection/doc alternation write + read back (test_unit.py:73-85)") {
    val root = tmp()
    val sink = new JsonFileSink(root)
    // c/d/c path + doc id, as the reference's read_write_path test
    val path = "_aether/entity/type-of-entity"
    val msg = """{"hello":"cfs!"}"""
    sink.commitBatch(Seq(DocumentSink.Doc(path, "some-id", msg)))
    assert(readDoc(root, path, "some-id").contains(msg))
    // whole-collection read (read_cfs without doc_id, helpers.py:110)
    sink.commitBatch(Seq(DocumentSink.Doc(path, "other-id", """{"n":2}""")))
    assert(readCollection(root, path) ==
      Seq("other-id" -> """{"n":2}""", "some-id" -> msg))
    assert(readCollection(root, "nope/x/y").isEmpty)
  }
}
