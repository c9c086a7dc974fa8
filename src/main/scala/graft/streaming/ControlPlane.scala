package graft.streaming

import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.model._

/** REST control plane (reference A28: the aet.consumer SDK's API
  * server the consumer boots through FirebaseConsumer,
  * firebase/app/consumer.py:9-18; endpoint surface documented in
  * README.md:138-189 — per-resource add/get/list/delete/
  * validate_pretty/get_schema, plus job pause/resume/get_status/
  * get_logs/list_topics/list_subscribed_topics).
  *
  * Built on the JDK's HttpServer — driver-side control traffic only
  * (a few requests/sec), never on the data path, so no framework
  * dependency is warranted. Definitions are the reference's JSON
  * shapes (fixtures/examples.py:22-56); `add` validates the RAW body
  * against the verbatim-ported draft-07 schemas so presence-based
  * `dependencies` blocks behave exactly as in the SDK.
  *
  * Every resource kind is one [[ResourceKind]] table entry: the
  * common actions, `describe` and the kind's own actions all read it,
  * so the served and the described actions cannot drift. `resume`
  * restarts the job's run from its checkpoint.
  *
  * Tenancy: every request is dispatched by its `x-oauth-realm` header
  * to that tenant's registry (the reference fronts the SDK server
  * with a realm-dispatching gateway — docker-compose.yml:13, test
  * clients always send the header, tests/__init__.py:131-134). A
  * request without the header lands on the default registry; an
  * unknown realm is a 404, so tenants cannot see — or guess at —
  * each other's resources.
  */
final class ControlPlane(reg: JobRegistry,
    port: Int = 0,
    /** realm → tenant registry. The default `reg` serves requests
      * without a realm header (and may also be listed here under its
      * own realm name). */
    realms: Map[String, JobRegistry] = Map.empty) {

  private val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", port), 0)

  def address: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def respond(ex: HttpExchange, code: Int, body: JValue): Unit = {
    val bytes = JsonMethods.compact(JsonMethods.render(body)).getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def param(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getQuery).toSeq
      .flatMap(_.split("&").toSeq)
      .map(_.split("=", 2))
      .collectFirst { case Array(k, v) if k == name =>
        java.net.URLDecoder.decode(v, "UTF-8") }

  private def body(ex: HttpExchange): JValue =
    JsonMethods.parse(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))

  private def errs(messages: Seq[String]): JValue =
    JObject("valid" -> JBool(false),
      "validation_errors" -> JArray(messages.map(JString(_)).toList))

  private def strings(xs: Seq[String]): JValue = JArray(xs.map(JString(_)).toList)

  private def definitionOf[T](reg: JobRegistry, kind: ResourceKind[T], id: String): Option[JValue] =
    reg.get(kind, id).map(kind.definition)

  /** Actions every kind serves (README.md:138-150). */
  private val commonActions = Seq("describe", "get_schema", "validate_pretty",
    "add", "get", "list", "delete")

  private def handle(reg: JobRegistry, kind: ResourceKind[_], action: String,
      ex: HttpExchange): Unit = action match {
    case "add" =>
      reg.addDefinition(kind, body(ex)) match {
        case Right(id) => respond(ex, 200, JObject("id" -> JString(id)))
        case Left(es) => respond(ex, 400, errs(es))
      }
    case "validate_pretty" =>
      // the registry's own sync modes: validate and add cannot disagree
      kind.validateJson(body(ex), reg.allowedSyncModes) match {
        case Nil => respond(ex, 200, JObject("valid" -> JBool(true)))
        case es => respond(ex, 200, errs(es))
      }
    case "get_schema" => respond(ex, 200, JsonMethods.parse(kind.schema))
    case "get" =>
      param(ex, "id").flatMap(definitionOf(reg, kind, _)) match {
        case Some(d) => respond(ex, 200, d)
        case None => respond(ex, 404, JObject("error" -> JString("not found")))
      }
    case "list" => respond(ex, 200, strings(reg.list(kind)))
    case "delete" =>
      param(ex, "id") match {
        case None => respond(ex, 400, JObject("error" -> JString("id required")))
        case Some(id) => reg.remove(kind, id); respond(ex, 200, JBool(true))
      }
    case "describe" =>
      // self-documenting action list (README.md:36-59)
      respond(ex, 200, JArray((commonActions ++ kind.actions).map(m =>
        JObject("method" -> JString(m))).toList))
    case a if kind.actions.contains(a) => kindAction(reg, a, ex)
    case other =>
      respond(ex, 404, JObject("error" -> JString(s"unknown action $other")))
  }

  /** The actions a kind adds to the common set (README.md:151-189). */
  private def kindAction(reg: JobRegistry, action: String, ex: HttpExchange): Unit = action match {
    case "get_status" =>
      respond(ex, 200, JString(param(ex, "id").map(reg.getStatus).getOrElse("UNKNOWN")))
    case "get_logs" => respond(ex, 200, strings(param(ex, "id").toSeq.flatMap(reg.getLogs)))
    case "pause" =>
      param(ex, "id").foreach(reg.pauseJob); respond(ex, 200, JBool(true))
    case "resume" =>
      param(ex, "id") match {
        case Some(id) => reg.resumeJob(id) match {
          case Right(_) => respond(ex, 200, JBool(true))
          case Left(es) => respond(ex, 400, errs(es))
        }
        case None => respond(ex, 400, JObject("error" -> JString("id required")))
      }
    case "list_topics" =>
      reg.listTopics() match {
        case Right(ts) => respond(ex, 200, strings(ts))
        case Left(e) => respond(ex, 500, JObject("error" -> JString(e)))
      }
    case "list_subscribed_topics" =>
      respond(ex, 200, strings(param(ex, "id").toSeq.flatMap(reg.listSubscribedTopics)))
    case "test_connection" =>
      // pings the instance's sink (reference: lazily builds the app +
      // RTDB/CFS clients and maps failure to HTTP 500,
      // artifacts.py:112-124)
      param(ex, "id").flatMap(reg.getFirebase) match {
        case None => respond(ex, 404, JObject("error" -> JString("not found")))
        case Some(fb) =>
          (try new graft.sources.JsonFileSink(fb.rootPath).testConnection()
          catch { case scala.util.control.NonFatal(e) => Left(String.valueOf(e.getMessage)) }) match {
            case Right(_) => respond(ex, 200, JBool(true))
            case Left(msg) => respond(ex, 500, JObject("error" -> JString(msg)))
          }
      }
  }

  /** Every job's status; unhealthy while any job awaits a restart
    * (RECONFIGURE) or has stopped without being paused (STOPPED). */
  private def health(reg: JobRegistry): JValue = {
    val status = reg.listJobs().map(j => j -> reg.getStatus(j))
    JObject(
      "healthy" -> JBool(!status.exists(s => s._2 == "RECONFIGURE" || s._2 == "STOPPED")),
      "jobs" -> JObject(status.map { case (j, s) => j -> (JString(s): JValue) }.toList))
  }

  /** Serves `ex` from its tenant's registry (docker-compose.yml:13):
    * realm header → that tenant's registry; no header → the default;
    * unknown realm → 404. */
  private def serve(ex: HttpExchange)(f: JobRegistry => Unit): Unit =
    try {
      val realm = Option(ex.getRequestHeaders.getFirst("x-oauth-realm"))
      realm.fold(Option(reg))(realms.get) match {
        case Some(tenantReg) => f(tenantReg)
        case None => respond(ex, 404, JObject("error" -> JString(s"unknown realm '${realm.get}'")))
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        respond(ex, 500, JObject("error" -> JString(String.valueOf(e.getMessage))))
    } finally ex.close()

  ResourceKind.all.foreach { kind =>
    server.createContext(s"/${kind.name}", (ex: HttpExchange) => serve(ex) { r =>
      handle(r, kind, ex.getRequestURI.getPath.stripPrefix(s"/${kind.name}").stripPrefix("/"), ex)
    })
  }
  server.createContext("/health", (ex: HttpExchange) => serve(ex)(r => respond(ex, 200, health(r))))

  def start(): ControlPlane = { server.start(); this }
  def stop(): Unit = server.stop(0)
}
