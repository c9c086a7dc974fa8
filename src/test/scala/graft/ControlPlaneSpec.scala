package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{FirebaseInstance, FirebaseJob, Subscription, Validation}
import graft.sources.JsonFileSink
import graft.streaming.{ControlPlane, JobRegistry}

/** REST control plane over the registry (reference A28: the SDK API
  * server, consumer.py:9-18; endpoints README.md:138-189). Drives the
  * real HTTP surface with the JDK client against the reference's own
  * example documents (fixtures/examples.py:22-56). */
class ControlPlaneSpec extends AnyFunSuite with SparkTestBase {

  private lazy val reg = new JobRegistry(spark, "tnt",
    topicCatalog = new graft.sources.StaticTopicCatalog(Seq("tnt.a", "tnt.b", "x.c")))
  private lazy val cp = new ControlPlane(reg).start()
  private lazy val client = HttpClient.newHttpClient()

  private def call(server: ControlPlane, path: String, body: Option[String] = None): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"${server.address}$path"))
    val r = client.send(body.map(s => b.POST(HttpRequest.BodyPublishers.ofString(s))).getOrElse(b.GET()).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  private def get(path: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(s"${cp.address}$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  private def post(path: String, body: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(s"${cp.address}$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private val fbExample =
    """{"id":"default","name":"the default instance","url":"local-test",
      |"credential":{"json":"doc"},"aether_server_alias":"test-server",
      |"firebase_config_path":"_aether/rules","hash_path":"_aether/hashes"}"""
      .stripMargin.replace("\n", "")
  private val subExample =
    """{"id":"sub-test","name":"Test Subscription","topic_pattern":"*",
      |"topic_options":{"masking_annotation":"@aether_masking",
      |"masking_levels":["public","private"],"masking_emit_level":"public",
      |"filter_required":false,"filter_field_path":"operational_status",
      |"filter_pass_values":["operational"]},
      |"fb_options":{"sync_mode":"forward","target_path":"_aether/entities/{topic}"}}"""
      .stripMargin.replace("\n", "")
  private val jobExample =
    """{"id":"default","name":"Default Firebase Consumer Job",
      |"firebase":"default","subscription":["sub-test"]}"""
      .stripMargin.replace("\n", "")

  test("health endpoint answers") {
    assert(get("/health") == (200, """{"healthy":true,"jobs":{}}"""))
  }

  test("add/get/list round-trip for the three resource types") {
    assert(post("/firebase/add", fbExample) == (200, """{"id":"default"}"""))
    assert(post("/subscription/add", subExample) == (200, """{"id":"sub-test"}"""))
    assert(post("/job/add", jobExample) == (200, """{"id":"default"}"""))
    assert(get("/subscription/list")._2 == """["sub-test"]""")
    val (code, got) = get("/subscription/get?id=sub-test")
    assert(code == 200 && got.contains("\"topic_pattern\":\"*\""))
    assert(get("/subscription/get?id=nope")._1 == 404)
  }

  test("validate_pretty mirrors the SDK contract incl. dependencies blocks") {
    assert(post("/subscription/validate_pretty", subExample)._2 == """{"valid":true}""")
    // presence-based dependency violation caught on the RAW body
    val bad = """{"id":"s","name":"s","topic_pattern":"*",
      |"topic_options":{"filter_required":false}}""".stripMargin.replace("\n", "")
    val (c, resp) = post("/subscription/validate_pretty", bad)
    assert(c == 200 && resp.contains("\"valid\":false") && resp.contains("filter_field_path"))
    // bad target path (secondary validation) rejected on add
    val badPath = subExample.replace("_aether/entities/{topic}", "too/short")
    assert(post("/subscription/add", badPath)._1 == 400)
  }

  test("get_schema returns the ported draft-07 schema") {
    val (c, s) = get("/job/get_schema")
    assert(c == 200 && s.contains("http://json-schema.org/draft-07/schema#"))
  }

  test("job actions: status, logs, topics; resume of a never-started job is rejected") {
    assert(get("/job/get_status?id=default") == (200, "\"PAUSED\""))
    reg.log("default", "hello ring")
    assert(get("/job/get_logs?id=default")._2.contains("hello ring"))
    assert(get("/job/list_topics")._2 == """["a","b"]""")
    assert(get("/job/list_subscribed_topics?id=default")._2 == """["tnt.*"]""")
    val (rc, rbody) = get("/job/resume?id=default")
    assert(rc == 400 && rbody.contains("never started"))
    assert(get("/job/pause?id=default")._1 == 200)
  }

  test("firebase test_connection pings the instance's sink; describe lists actions") {
    // the registered instance's sink root must answer the ping with a
    // definite verdict (200 writable / 500 with an error body), and an
    // unknown id is 404 — the reference's CHE → HTTP 500 contract
    val (c, b) = get("/firebase/test_connection?id=default")
    assert(c == 200 || (c == 500 && b.contains("error")), s"$c $b")
    assert(get("/firebase/test_connection?id=ghost")._1 == 404)
    val (dc, db) = get("/job/describe")
    assert(dc == 200 && db.contains("list_topics") && db.contains("validate_pretty"))
    assert(get("/firebase/describe")._2.contains("test_connection"))
  }

  test("x-oauth-realm header isolates tenants; unknown realm is 404") {
    // Two tenants, same resource ids — the reference dispatches every
    // call by realm header (docker-compose.yml:13,
    // tests/__init__.py:131-134); nothing may leak across.
    val regA = new JobRegistry(spark, "realm-a")
    val regB = new JobRegistry(spark, "realm-b")
    val mt = new ControlPlane(regA, realms = Map("a" -> regA, "b" -> regB)).start()
    def call(path: String, realm: Option[String], body: Option[String] = None): (Int, String) = {
      var b = HttpRequest.newBuilder(URI.create(s"${mt.address}$path"))
      realm.foreach(r => b = b.header("x-oauth-realm", r))
      b = body.map(s => b.POST(HttpRequest.BodyPublishers.ofString(s))).getOrElse(b.GET())
      val r = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    try {
      // same-id firebase added under both realms, different urls
      val fbA = fbExample.replace("local-test", "url-a")
      val fbB = fbExample.replace("local-test", "url-b")
      assert(call("/firebase/add", Some("a"), Some(fbA)) == (200, """{"id":"default"}"""))
      assert(call("/firebase/add", Some("b"), Some(fbB)) == (200, """{"id":"default"}"""))
      // each realm reads back only its own definition
      assert(call("/firebase/get?id=default", Some("a"))._2.contains("url-a"))
      assert(call("/firebase/get?id=default", Some("b"))._2.contains("url-b"))
      // a subscription added only under realm a is invisible to b
      assert(call("/subscription/add", Some("a"), Some(subExample))._1 == 200)
      assert(call("/subscription/list", Some("a"))._2 == """["sub-test"]""")
      assert(call("/subscription/list", Some("b"))._2 == "[]")
      // deleting under b must not touch a's same-id resource
      assert(call("/firebase/delete?id=default", Some("b"))._1 == 200)
      assert(call("/firebase/get?id=default", Some("a"))._1 == 200)
      // no header → default registry (regA); unknown realm → 404
      assert(call("/firebase/list", None)._2 == """["default"]""")
      assert(call("/firebase/list", Some("nobody"))._1 == 404)
    } finally { mt.stop(); regA.shutdown(); regB.shutdown() }
  }

  test("a strict registry's validate_pretty and add agree on sync_mode") {
    val strict = new JobRegistry(spark, "strict", Validation.SchemaSyncModes)
    val scp = new ControlPlane(strict).start()
    try {
      val syncSub = subExample.replace("\"sync_mode\":\"forward\"", "\"sync_mode\":\"sync\"")
      val (vc, vb) = call(scp, "/subscription/validate_pretty", Some(syncSub))
      assert(vc == 200 && vb.contains("\"valid\":false") && vb.contains("sync_mode"), vb)
      val (ac, ab) = call(scp, "/subscription/add", Some(syncSub))
      assert(ac == 400 && ab == vb, ab)
    } finally { scp.stop(); strict.shutdown() }
  }

  test("resuming a job whose subscription was deleted answers 400, not 500") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cp").toString
    val r = new JobRegistry(spark, "tnt")
    val rcp = new ControlPlane(r).start()
    try {
      assert(r.addFirebase(FirebaseInstance("fb", "fb", "http://emulator")).isRight)
      assert(r.addSubscription(Subscription("sx", "sx", "t?")).isRight)
      assert(r.addJob(FirebaseJob("jx", "jx", "fb", Seq("sx"))).isRight)
      val batch = Seq(("tnt.t1", 1L, "a")).toDF("kafka_topic", "id", "name")
      batch.write.parquet(s"$dir/in")
      val started = r.startJob("jx", spark.readStream.schema(batch.schema).parquet(s"$dir/in"),
        () => new JsonFileSink(s"$dir/sink"), s"$dir/work")
      assert(started.isRight, started)
      started.toOption.get.processAllAvailable()
      assert(call(rcp, "/job/pause?id=jx")._1 == 200)
      assert(call(rcp, "/subscription/delete?id=sx")._1 == 200)
      assert(call(rcp, "/job/resume?id=jx") ==
        (400, """{"valid":false,"validation_errors":["subscriptions: unknown 'sx'"]}"""))
      assert(r.resumeJob("jx") == Left(Seq("subscriptions: unknown 'sx'")))
      assert(r.getStatus("jx") == "PAUSED")
    } finally { rcp.stop(); r.shutdown() }
  }

  test("describe lists exactly the actions each kind serves") {
    val kinds = Seq("firebase", "subscription", "job")
    val listed = kinds.map { kind =>
      val (c, b) = get(s"/$kind/describe")
      assert(c == 200, b)
      kind -> "\"method\":\"([a-z_]+)\"".r.findAllMatchIn(b).map(_.group(1)).toSeq
    }.toMap
    kinds.foreach { kind =>
      // every listed action is served (an empty body and no id leave
      // the registry unchanged)...
      listed(kind).foreach { a =>
        val (_, b) = post(s"/$kind/$a", "{}")
        assert(!b.contains("unknown action"), s"/$kind/$a: $b")
      }
      // ...and an action no kind lists, or only another kind lists, is not
      (listed.values.flatten.toSet -- listed(kind) + "frobnicate").foreach { a =>
        assert(get(s"/$kind/$a") == (404, s"""{"error":"unknown action $a"}"""), s"/$kind/$a")
      }
    }
  }

  test("delete removes resources; server stops") {
    assert(get("/subscription/delete?id=sub-test")._1 == 200)
    assert(get("/subscription/list")._2 == "[]")
    cp.stop()
  }
}
