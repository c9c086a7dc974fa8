package graft.model

import org.json4s._

/** Control-plane resources mirroring the reference's JSON-schema
  * contracts (reference: firebase/app/fixtures/schemas.py — Firebase
  * 21-126, Subscription 128-296, Job 298-358; examples
  * fixtures/examples.py:1-57). Strongly-typed here; validation errors
  * are returned as messages like the SDK's validate_pretty
  * (artifacts.py:141-157).
  */
final case class FirebaseInstance(
    id: String,
    name: String,
    url: String,
    credentialJson: String = "{}",
    rootPath: String = "/",
    // remaining FB_INSTANCE contract keys (schemas.py:29-37; example
    // values fixtures/examples.py:22-32)
    aetherServerAlias: String = "aether",
    firebaseConfigPath: String = "_aether/rules",
    hashPath: String = "_aether/hashes")

/** fb_options block (schemas.py:198-296). The shipped schema only
  * allows "forward" for sync_mode (schemas.py:284) while the engine
  * handles sync/forward/consume/none (helpers.py:42-46) — we keep the
  * schema strict and the engine capable, as the reference does. */
final case class FbOptions(
    syncMode: String = "forward",
    targetPath: String = "_aether/entities/{topic}",
    filterRequired: Boolean = false,
    filterFieldPath: String = "",
    filterPassValues: Seq[String] = Nil,
    maskingAnnotation: String = "aether_masking",
    maskingLevels: Seq[String] = Nil,
    maskingEmitLevel: String = "")

final case class Subscription(
    id: String,
    name: String,
    topicPattern: String,
    fbOptions: FbOptions = FbOptions())

final case class FirebaseJob(
    id: String,
    name: String,
    firebase: String,
    subscriptions: Seq[String])

object Validation {
  /** The reference's shipped JSON schema allows only "forward"
    * (schemas.py:284) even though its engine handles four modes
    * (helpers.py:42-46). [[SchemaSyncModes]] mirrors that strict
    * contract; [[EngineSyncModes]] — the default — unlocks what this
    * engine actually implements, so the flagship SYNC path is
    * reachable through the registry. */
  val SchemaSyncModes: Set[String] = Set("forward") // schemas.py:284
  val EngineSyncModes: Set[String] = Set("forward", "sync", "consume", "none")

  import ResourceKind._

  def validateSubscription(sub: Subscription,
      allowedSyncModes: Set[String] = EngineSyncModes): Seq[String] =
    Subscriptions.validate(sub, allowedSyncModes)
  def validateFirebase(fb: FirebaseInstance): Seq[String] = Firebases.validate(fb, EngineSyncModes)
  def validateJob(job: FirebaseJob): Seq[String] = Jobs.validate(job, EngineSyncModes)
}

/** One control-plane resource kind (reference A18-A23: one
  * add/get/list/delete/validate_pretty/get_schema surface for every
  * kind, artifacts.py:132-157, README.md:138-189). The registry keeps
  * one definition store over these entries and the REST control plane
  * serves every kind from them. */
sealed abstract class ResourceKind[T](
    /** URL segment and durable-store key. */
    val name: String,
    /** The ported schema (schemas.py). */
    val schema: String,
    /** REST actions beyond the common set (README.md:151-189). */
    val actions: Seq[String] = Nil) {

  /** Reference-shaped definition JSON → value (the REST add/validate
    * bodies, examples.py:22-56). Lenient: absent keys take the
    * case-class defaults; validation decides acceptance. */
  def fromJson(j: JValue): T
  /** The reference-shaped JSON definition of a value: what `get`
    * serves, the store persists and validation checks. */
  def definition(t: T): JValue
  def id(t: T): String
  /** Checks beyond the schema. */
  protected def checks(t: T, syncModes: Set[String]): Seq[String]
  /** Schema errors this engine deliberately waives for `t`. */
  protected def waives(schemaError: String, t: T, syncModes: Set[String]): Boolean = false
  /** Resources `t` names, as (field, kind, id); add and start refuse
    * a value whose referenced resource does not exist. */
  def references(t: T): Seq[(String, ResourceKind[_], String)] = Nil

  private lazy val parsedSchema = JsonSchema.parse(schema)

  /** A REST body, validated as received. */
  final def validateJson(defn: JValue, syncModes: Set[String]): Seq[String] =
    validate(defn, fromJson(defn), syncModes)
  /** A typed value, validated as its definition. */
  final def validate(t: T, syncModes: Set[String]): Seq[String] =
    validate(definition(t), t, syncModes)

  /** The kind's one validation (validate_pretty, artifacts.py:141-157):
    * the definition against the ported schema, then the checks on the
    * value. */
  private def validate(defn: JValue, t: T, syncModes: Set[String]): Seq[String] =
    (JsonSchema.validateValue(parsedSchema, defn, "$").filterNot(waives(_, t, syncModes)) ++
      checks(t, syncModes)).distinct
}

object ResourceKind {
  import JsonCodec.{str, strs}

  /** The messages whose condition holds. */
  private def failing(rules: (Boolean, String)*): Seq[String] = rules.collect { case (true, m) => m }
  private def when(cond: Boolean)(fields: (String, JValue)*): List[(String, JValue)] =
    if (cond) fields.toList else Nil
  private def strings(xs: Seq[String]): JValue = JArray(xs.map(JString(_)).toList)

  /** schemas.py:21-126: requires the credential object and the
    * server-alias/config/hash paths, as the SDK does. */
  object Firebases extends ResourceKind[FirebaseInstance]("firebase", ResourceSchemas.FbInstance,
      Seq("test_connection")) {
    def fromJson(j: JValue): FirebaseInstance = FirebaseInstance(
      id = str(j, "id"),
      name = str(j, "name"),
      url = str(j, "url"),
      credentialJson = (j \ "credential") match {
        case JNothing => ""
        case c => org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(c))
      },
      aetherServerAlias = str(j, "aether_server_alias", "aether"),
      firebaseConfigPath = str(j, "firebase_config_path", "_aether/rules"),
      hashPath = str(j, "hash_path", "_aether/hashes"))

    def definition(fb: FirebaseInstance): JValue = JObject(List[(String, JValue)](
      "id" -> JString(fb.id),
      "name" -> JString(fb.name),
      "url" -> JString(fb.url),
      "credential" -> JsonSchema.parse(if (fb.credentialJson.trim.nonEmpty) fb.credentialJson else "null"),
      "aether_server_alias" -> JString(fb.aetherServerAlias),
      "firebase_config_path" -> JString(fb.firebaseConfigPath),
      "hash_path" -> JString(fb.hashPath)))

    def id(fb: FirebaseInstance): String = fb.id

    protected def checks(fb: FirebaseInstance, syncModes: Set[String]): Seq[String] = failing(
      fb.id.isEmpty -> "id: must be non-empty",
      fb.url.isEmpty -> "url: must be non-empty")
  }

  /** schemas.py:128-296 + the secondary path rule
    * (artifacts.py:159-172): the target path must have an odd number
    * of '/'-separated segments (collection-rooted CFS path) and no
    * placeholder other than {topic}. The shipped schema's sync_mode
    * enum (["forward"]) is widened to the registry's allowed modes —
    * the engine-capability deviation documented on
    * [[Validation.EngineSyncModes]]. */
  object Subscriptions extends ResourceKind[Subscription]("subscription",
      ResourceSchemas.Subscription) {
    def fromJson(j: JValue): Subscription = {
      val to = j \ "topic_options"
      val fo = j \ "fb_options"
      Subscription(
        id = str(j, "id"),
        name = str(j, "name"),
        topicPattern = str(j, "topic_pattern"),
        fbOptions = FbOptions(
          syncMode = str(fo, "sync_mode", "forward"),
          targetPath = str(fo, "target_path", "_aether/entities/{topic}"),
          filterRequired = (to \ "filter_required") == JBool(true),
          filterFieldPath = str(to, "filter_field_path"),
          filterPassValues = strs(to, "filter_pass_values"),
          maskingAnnotation = str(to, "masking_annotation", "aether_masking").stripPrefix("@"),
          maskingLevels = strs(to, "masking_levels"),
          maskingEmitLevel = str(to, "masking_emit_level")))
    }

    /** Empty optional settings are absent keys, so the ported schema's
      * presence-based `dependencies` blocks fire exactly as they do in
      * the SDK. `topic_options` is emitted only when a filter or mask
      * is configured (an empty topic_options object violates its
      * anyOf, as in the reference). */
    def definition(sub: Subscription): JValue = {
      val o = sub.fbOptions
      val topicOpts =
        when(o.maskingLevels.nonEmpty || o.maskingEmitLevel.nonEmpty)(
          "masking_annotation" -> JString(o.maskingAnnotation)) ++
        when(o.maskingLevels.nonEmpty)("masking_levels" -> strings(o.maskingLevels)) ++
        when(o.maskingEmitLevel.nonEmpty)("masking_emit_level" -> JString(o.maskingEmitLevel)) ++
        when(o.filterRequired || o.filterFieldPath.nonEmpty || o.filterPassValues.nonEmpty)(
          "filter_required" -> JBool(o.filterRequired)) ++
        when(o.filterFieldPath.nonEmpty)("filter_field_path" -> JString(o.filterFieldPath)) ++
        when(o.filterPassValues.nonEmpty)("filter_pass_values" -> strings(o.filterPassValues))
      JObject(List[(String, JValue)]("id" -> JString(sub.id), "name" -> JString(sub.name),
          "topic_pattern" -> JString(sub.topicPattern)) ++
        when(topicOpts.nonEmpty)("topic_options" -> JObject(topicOpts)) :+
        ("fb_options" -> JObject("sync_mode" -> JString(o.syncMode), "target_path" -> JString(o.targetPath))))
    }

    def id(sub: Subscription): String = sub.id

    override protected def waives(schemaError: String, sub: Subscription,
        syncModes: Set[String]): Boolean =
      schemaError.startsWith("$.fb_options.sync_mode") && schemaError.contains("enum") &&
        syncModes.contains(sub.fbOptions.syncMode)

    protected def checks(sub: Subscription, syncModes: Set[String]): Seq[String] = {
      val o = sub.fbOptions
      val placeholders = "\\{([^}]*)\\}".r.findAllMatchIn(o.targetPath).map(_.group(1)).toSeq
      val segments = o.targetPath.stripPrefix("/").stripSuffix("/").split("/")
      failing(
        sub.id.isEmpty -> "id: must be non-empty",
        sub.name.isEmpty -> "name: must be non-empty",
        sub.topicPattern.isEmpty -> "topic_pattern: must be non-empty",
        !syncModes.contains(o.syncMode) ->
          s"fb_options.sync_mode: '${o.syncMode}' not in ${syncModes.mkString(",")}",
        (o.maskingEmitLevel.nonEmpty && o.maskingLevels.nonEmpty &&
          !o.maskingLevels.contains(o.maskingEmitLevel)) ->
          "fb_options.masking_emit_level: must be one of masking_levels") ++
        placeholders.filterNot(_ == "topic").map(p => s"fb_options.target_path: illegal placeholder {$p}") ++
        failing((segments.length % 2 == 0) ->
          s"fb_options.target_path: must have an odd number of segments, got ${segments.length}")
    }
  }

  /** schemas.py:298-358; a job names its firebase instance and its
    * subscriptions, and both must exist. */
  object Jobs extends ResourceKind[FirebaseJob]("job", ResourceSchemas.FbJob,
      Seq("pause", "resume", "get_status", "get_logs", "list_topics", "list_subscribed_topics")) {
    def fromJson(j: JValue): FirebaseJob = FirebaseJob(
      id = str(j, "id"),
      name = str(j, "name"),
      firebase = str(j, "firebase"),
      subscriptions = strs(j, "subscription"))

    def definition(job: FirebaseJob): JValue = JObject(List[(String, JValue)](
      "id" -> JString(job.id),
      "name" -> JString(job.name),
      "firebase" -> JString(job.firebase),
      "subscription" -> strings(job.subscriptions)))

    def id(job: FirebaseJob): String = job.id

    protected def checks(job: FirebaseJob, syncModes: Set[String]): Seq[String] = failing(
      job.id.isEmpty -> "id: must be non-empty",
      job.firebase.isEmpty -> "firebase: must reference a firebase resource",
      job.subscriptions.isEmpty -> "subscriptions: must be non-empty")

    override def references(job: FirebaseJob): Seq[(String, ResourceKind[_], String)] =
      ("firebase", Firebases, job.firebase) +: job.subscriptions.map(("subscriptions", Subscriptions, _))
  }

  /** The table, in the order the control plane serves it. Lazy: a kind
    * initializes this object first when it is the first kind used. */
  lazy val all: Seq[ResourceKind[_]] = Seq(Firebases, Subscriptions, Jobs)
}

/** Reading string fields of a JSON definition; absent or non-string
  * keys read as the default. */
private[graft] object JsonCodec {
  def str(j: JValue, key: String, dflt: String = ""): String =
    j \ key match { case JString(s) => s; case _ => dflt }
  def strs(j: JValue, key: String): Seq[String] =
    j \ key match { case JArray(xs) => xs.collect { case JString(s) => s }; case _ => Nil }
}
