package graft.tools

import scala.util.Random

import org.json4s._

import graft.model.{FbOptions, JsonSchema, ResourceSchemas, Subscription}
import graft.operators.Masking

/** Seeded property-based CONFIG fuzzing incl. rejection parity
  * (judge brief r18 → r19 #3).
  *
  * ConfigPerturb's 38 hand-enumerated points cover the knobs the
  * reference documents; the Subscription schema space
  * (schemas.py:128-296, with its `dependencies` coupling blocks) is
  * combinatorial, and the REJECTION side was only spot-covered. This
  * tool closes the contract with three seeded phases:
  *
  *  1. '''Schema rejection parity''' — random subscription JSON
  *     definitions with a generator-chosen violation set (possibly
  *     empty). The generator computes the draft-07 verdict
  *     INDEPENDENTLY from the violations it injected (it never calls
  *     the validator to decide); [[JsonSchema.validate]] must agree
  *     on accept/reject AND name every injected violation. Includes
  *     the accept-side quirks draft-07 mandates (unknown extra keys
  *     accepted, `pattern` ignored on non-string array items,
  *     `required`/`dependencies` test key PRESENCE — so
  *     `filter_required: false` still triggers its dependencies).
  *  2. '''Secondary-rule parity''' — random [[Subscription]] values
  *     exercising the A9 path rule (odd '/'-segments, `{topic}`-only
  *     placeholders), the engine sync-mode widening, and the
  *     emit-level∈ladder rule, against
  *     [[graft.model.Validation.validateSubscription]], with expectations
  *     derived from the rules as written, not from the code path.
  *  3. '''Valid-draw referee''' — random VALID configs compiled
  *     through the production [[graft.streaming.Pipeline]] entry
  *     points and DuckDB-refereed exactly like ConfigPerturb's 38
  *     (same [[ConfigPerturb.oracleFor]] contract restatement, same
  *     dump layout for scripts/perturb_compare.py).
  *
  * Usage: runMain graft.tools.ConfigFuzz <sfDir> <outDir>
  *          [nSchema] [nSecondary] [nValid] [seed]
  * Phases 1-2 print PARITY lines and a summary; phase 3 writes the
  * variant dumps + oracle_sql.json. Any divergence exits non-zero.
  */
object ConfigFuzz {

  // ---------------------------------------------------------------
  // Phase 1: draft-07 schema rejection parity
  // ---------------------------------------------------------------

  /** One injectable violation: how to corrupt the definition and the
    * error fragment draft-07 semantics require the validator to
    * produce for it. */
  final case class Violation(name: String, fragment: String)

  private val VMissingId = Violation("missing-id", "'id' is a required property")
  private val VMissingName = Violation("missing-name", "'name' is a required property")
  private val VMissingPattern =
    Violation("missing-topic_pattern", "'topic_pattern' is a required property")
  private val VTypeId = Violation("type-id", "$.id: expected type string")
  private val VTypePattern =
    Violation("type-topic_pattern", "$.topic_pattern: expected type string")
  private val VAnyOf =
    Violation("anyof-topic_options", "does not match any allowed variant")
  private val VDepMaskLevels = Violation("dep-masking_levels",
    "'masking_levels' is required when 'masking_annotation' is present")
  private val VDepMaskEmit = Violation("dep-masking_emit_level",
    "'masking_emit_level' is required when 'masking_annotation' is present")
  private val VDepFilterPath = Violation("dep-filter_field_path",
    "'filter_field_path' is required when 'filter_required' is present")
  private val VDepFilterPass = Violation("dep-filter_pass_values",
    "'filter_pass_values' is required when 'filter_required' is present")
  private val VTypeFilterReq = Violation("type-filter_required",
    "filter_required: expected type boolean")
  private val VTypeMaskLevels = Violation("type-masking_levels",
    "masking_levels: expected type array")
  private val VTypeFilterPass = Violation("type-filter_pass_values",
    "filter_pass_values: expected type array")
  private val VEnumSync = Violation("enum-sync_mode", "value not in enum")
  private val VTypeTargetPath = Violation("type-target_path",
    "target_path: expected type string")
  private val VTypeTopicOpts = Violation("type-topic_options",
    "$.topic_options: expected type object")
  private val VTypeFbOpts = Violation("type-fb_options",
    "$.fb_options: expected type object")

  /** One random definition draw: the JSON plus the violations the
    * generator injected (empty ⇒ the draw is schema-valid). */
  final case class SchemaDraw(json: JValue, injected: Seq[Violation],
      shape: String)

  def drawSchemaCase(rnd: Random): SchemaDraw = {
    val inject = Seq.newBuilder[Violation]
    val shape = Seq.newBuilder[String]

    // ---- root required trio (drop / retype with small probability)
    var root = List.empty[(String, JValue)]
    def rootField(key: String, miss: Violation, retype: Option[Violation]): Unit =
      rnd.nextInt(10) match {
        case 0 => inject += miss // absent
        case 1 if retype.isDefined =>
          inject += retype.get
          root :+= key -> JInt(rnd.nextInt(100))
        case _ => root :+= key -> JString(
          if (rnd.nextInt(8) == 0) "" else s"v${rnd.nextInt(1000)}")
        // empty string still satisfies required+pattern at schema level
      }
    rootField("id", VMissingId, Some(VTypeId))
    rootField("name", VMissingName, None)
    rootField("topic_pattern", VMissingPattern, Some(VTypePattern))

    // ---- topic_options section
    if (rnd.nextInt(4) > 0) { // present 3/4 of the time
      if (rnd.nextInt(12) == 0) {
        root :+= "topic_options" -> JString("not-an-object")
        inject += VTypeTopicOpts
        shape += "to:wrong-type"
      } else {
        var to = List.empty[(String, JValue)]
        val withMask = rnd.nextBoolean()
        val withFilter = rnd.nextBoolean()
        if (withMask) {
          to :+= "masking_annotation" -> JString("aether_masking")
          if (rnd.nextInt(6) == 0) inject += VDepMaskLevels
          else if (rnd.nextInt(10) == 0) {
            to :+= "masking_levels" -> JString("public,private")
            inject += VTypeMaskLevels
          } else if (rnd.nextInt(10) == 0)
            // pattern on items is IGNORED for non-strings: still VALID
            { to :+= "masking_levels" -> JArray(List(JInt(1), JInt(2)))
              shape += "to:nonstring-levels-accept" }
          else to :+= "masking_levels" ->
            JArray(List(JString("public"), JString("private")))
          if (rnd.nextInt(6) == 0) inject += VDepMaskEmit
          else to :+= "masking_emit_level" -> JString("public")
        }
        if (withFilter) {
          // presence triggers dependencies regardless of the VALUE
          if (rnd.nextInt(10) == 0) {
            to :+= "filter_required" -> JString("yes")
            inject += VTypeFilterReq
          } else to :+= "filter_required" -> JBool(rnd.nextBoolean())
          if (rnd.nextInt(6) == 0) inject += VDepFilterPath
          else to :+= "filter_field_path" -> JString("some.path")
          if (rnd.nextInt(6) == 0) inject += VDepFilterPass
          else if (rnd.nextInt(10) == 0) {
            to :+= "filter_pass_values" -> JObject(List("x" -> JInt(1)))
            inject += VTypeFilterPass
          } else to :+= "filter_pass_values" ->
            JArray(List(JString("a"), JBool(false), JInt(3))) // any items OK
        }
        if (!withMask && !withFilter) inject += VAnyOf
        root :+= "topic_options" -> JObject(to)
        shape += s"to:mask=$withMask,filter=$withFilter"
      }
    }

    // ---- fb_options section
    if (rnd.nextInt(3) > 0) {
      if (rnd.nextInt(12) == 0) {
        root :+= "fb_options" -> JArray(Nil)
        inject += VTypeFbOpts
        shape += "fb:wrong-type"
      } else {
        var fb = List.empty[(String, JValue)]
        if (rnd.nextBoolean()) {
          if (rnd.nextInt(8) == 0) {
            fb :+= "target_path" -> JInt(7)
            inject += VTypeTargetPath
          } else fb :+= "target_path" -> JString("a/b/c")
        }
        if (rnd.nextBoolean()) {
          // the SHIPPED schema enum is ["forward"] only
          if (rnd.nextInt(4) == 0) {
            fb :+= "sync_mode" -> JString(
              Seq("push", "backward", "sync!")(rnd.nextInt(3)))
            inject += VEnumSync
          } else fb :+= "sync_mode" -> JString("forward")
        }
        root :+= "fb_options" -> JObject(fb)
      }
    }

    // draft-07 without additionalProperties:false accepts unknown keys
    if (rnd.nextInt(5) == 0) {
      root :+= s"x_extra_${rnd.nextInt(100)}" -> JInt(rnd.nextInt(9))
      shape += "extra-key-accept"
    }

    SchemaDraw(JObject(root), inject.result().distinct, shape.result().mkString(";"))
  }

  def runSchemaPhase(n: Int, rnd: Random): (Int, Int) = {
    var divergences = 0
    (1 to n).foreach { i =>
      val d = drawSchemaCase(rnd)
      val errs = JsonSchema.validate(ResourceSchemas.Subscription, d.json)
      val expectReject = d.injected.nonEmpty
      val verdictOk = errs.nonEmpty == expectReject
      val fragsOk = d.injected.forall(v => errs.exists(_.contains(v.fragment)))
      if (!verdictOk || !fragsOk) {
        divergences += 1
        System.err.println(s"[cfgfuzz] DIVERGENCE schema#$i shape=${d.shape} " +
          s"injected=${d.injected.map(_.name).mkString(",")} errs=$errs " +
          s"json=${org.json4s.jackson.JsonMethods.compact(d.json)}")
      }
    }
    (n, divergences)
  }

  // ---------------------------------------------------------------
  // Phase 2: secondary-rule parity (validateSubscription)
  // ---------------------------------------------------------------

  final case class SecondaryDraw(sub: Subscription, expected: Set[String],
      shape: String)

  /** Expected error CLASSES derived from the documented rules
    * (artifacts.py:159-172 + the schema semantics of the definition
    * emission), not from the validator code. */
  def drawSecondaryCase(rnd: Random): SecondaryDraw = {
    val exp = Set.newBuilder[String]
    val id = if (rnd.nextInt(8) == 0) "" else s"s${rnd.nextInt(100)}"
    if (id.isEmpty) exp += "empty-id"
    val name = if (rnd.nextInt(8) == 0) "" else "a name"
    if (name.isEmpty) exp += "empty-name"
    val pat = if (rnd.nextInt(8) == 0) "" else "ev*"
    if (pat.isEmpty) exp += "empty-pattern"

    val mode = rnd.nextInt(6) match {
      case 0 => "sync"
      case 1 => "none"
      case 2 => "consume"
      case 3 => Seq("push", "backward")(rnd.nextInt(2))
      case _ => "forward"
    }
    if (!graft.model.Validation.EngineSyncModes.contains(mode)) exp += "bad-mode"

    // target path: random segment count, optional placeholders
    val nSeg = 1 + rnd.nextInt(5)
    val segs = (1 to nSeg).map { j =>
      rnd.nextInt(6) match {
        case 0 => "{topic}"
        case 1 if rnd.nextInt(3) == 0 => s"{bad$j}"
        case _ => s"p$j"
      }
    }
    val path = segs.mkString("/")
    if (segs.exists(s => s.startsWith("{") && s != "{topic}"))
      exp += "bad-placeholder"
    if (nSeg % 2 == 0) exp += "even-segments"

    // mask knobs: emit in/out of ladder; lone emit (schema dep trip)
    val (levels, emit) = rnd.nextInt(5) match {
      case 0 => (Masking.DefaultLevels, "confidential")
      case 1 =>
        exp += "emit-not-in-levels"
        (Masking.DefaultLevels, "no-such-level")
      case 2 =>
        // definition emits masking_annotation + masking_emit_level but
        // NO masking_levels -> the ported schema's dependencies reject
        exp += "schema-dep"
        (Nil, "public")
      case _ => (Nil, "")
    }

    val sub = Subscription(id, name, pat, FbOptions(
      syncMode = mode, targetPath = path,
      maskingLevels = levels, maskingEmitLevel = emit))
    SecondaryDraw(sub, exp.result(),
      s"mode=$mode,segs=$nSeg,lvl=${levels.size},emit=$emit")
  }

  /** Map an expected class to the substring its error must carry. */
  private val SecondaryFragment = Map(
    "empty-id" -> "id: must be non-empty",
    "empty-name" -> "name: must be non-empty",
    "empty-pattern" -> "topic_pattern: must be non-empty",
    "bad-mode" -> "sync_mode",
    "bad-placeholder" -> "illegal placeholder",
    "even-segments" -> "odd number of segments",
    "emit-not-in-levels" -> "must be one of masking_levels",
    "schema-dep" -> "'masking_levels' is required when 'masking_annotation' is present")

  def runSecondaryPhase(n: Int, rnd: Random): (Int, Int) = {
    var divergences = 0
    (1 to n).foreach { i =>
      val d = drawSecondaryCase(rnd)
      val errs = graft.model.Validation.validateSubscription(d.sub)
      val expectReject = d.expected.nonEmpty
      val verdictOk = errs.nonEmpty == expectReject
      val fragsOk = d.expected.forall(c =>
        errs.exists(_.contains(SecondaryFragment(c))))
      // the reverse direction: an accept-draw must produce ZERO errors
      // (verdictOk covers it), and every produced error must trace to
      // an expected class — no phantom rejections
      val phantomFree = errs.forall(e =>
        d.expected.exists(c => e.contains(SecondaryFragment(c))))
      if (!verdictOk || !fragsOk || !phantomFree) {
        divergences += 1
        System.err.println(s"[cfgfuzz] DIVERGENCE secondary#$i " +
          s"shape=${d.shape} expected=${d.expected} errs=$errs")
      }
    }
    (n, divergences)
  }

  // ---------------------------------------------------------------
  // Phase 3: valid-draw pipeline referee
  // ---------------------------------------------------------------

  import ConfigPerturb.{CfgVariant, FilterSpec, MaskSpec, StoreSpec, SubSpec}

  private val EventTypes = Seq("purchase", "click", "view", "signup", "error")

  private def drawPattern(rnd: Random): String = rnd.nextInt(6) match {
    case 0 => "*"
    case 1 => EventTypes(rnd.nextInt(EventTypes.size))
    case 2 => EventTypes(rnd.nextInt(EventTypes.size)).take(1 + rnd.nextInt(3)) + "*"
    case 3 => "*" + EventTypes(rnd.nextInt(EventTypes.size)).drop(2)
    case 4 =>
      val t = EventTypes(rnd.nextInt(EventTypes.size))
      val i = rnd.nextInt(t.length)
      t.updated(i, '?')
    case _ => "zz*" // matches nothing
  }

  private def drawPath(rnd: Random): String = rnd.nextInt(5) match {
    case 0 => "_aether/entities/{topic}"
    case 1 => "fixed/entities/all"
    case 2 => s"p${rnd.nextInt(9)}"
    case 3 => s"t/{topic}/m/{topic}/l${rnd.nextInt(9)}"
    case _ => s"a${rnd.nextInt(9)}/{topic}/leaf" // 3 segments (odd — A9)
  }

  private def drawFilter(rnd: Random): Option[FilterSpec] = rnd.nextInt(5) match {
    case 0 => None
    case 1 =>
      val k = 1 + rnd.nextInt(4)
      val vals = rnd.shuffle(EventTypes).take(k)
      Some(FilterSpec("event_type", vals, required = true,
        vals.map(v => s"'$v'").mkString("event_type IN (", ",", ")")))
    case 2 =>
      val ids = (1 to 1 + rnd.nextInt(5)).map(_ => rnd.nextInt(200).toString).distinct
      Some(FilterSpec("user_id", ids, required = true,
        ids.map(v => s"'$v'").mkString("user_id::VARCHAR IN (", ",", ")")))
    case 3 => Some(FilterSpec("event_type", Seq(EventTypes(rnd.nextInt(5))),
      required = false, "TRUE"))
    case _ => Some(FilterSpec("no_such_field", Seq("x"), required = true, "FALSE"))
  }

  private val Ladders = Seq(
    Masking.DefaultLevels,
    Masking.DefaultLevels.reverse,
    Seq("low", "mid", "high"))

  /** A mask spec plus the annotation map its ladder needs. */
  private def drawMask(rnd: Random): (Option[MaskSpec], Map[String, String]) =
    rnd.nextInt(4) match {
      case 0 => (None, ConfigPerturb.DefaultAnn)
      case _ =>
        val ladder = Ladders(rnd.nextInt(Ladders.size))
        val emit = ladder(rnd.nextInt(ladder.size))
        // random field classification: level from the ladder, or an
        // unknown level (always masked), or unannotated (survives)
        val ann = Seq("user_id", "value", "props").flatMap { f =>
          rnd.nextInt(5) match {
            case 0 => None
            case 1 => Some(f -> "not-a-level")
            case _ => Some(f -> ladder(rnd.nextInt(ladder.size)))
          }
        }.toMap
        (Some(MaskSpec(ladder, emit)), ann)
    }

  private def drawStore(rnd: Random): Option[StoreSpec] = rnd.nextInt(3) match {
    case 0 => None
    case _ =>
      val m = 2 + rnd.nextInt(5)
      val stale = if (rnd.nextBoolean()) {
        val k = 2 + rnd.nextInt(5)
        (Some(s"CAST(doc_id AS BIGINT) % $k = 0"), Some(s"id % $k = 0"))
      } else (None, None)
      Some(StoreSpec(s"CAST(doc_id AS BIGINT) % $m = 0", s"id % $m = 0",
        stale._1, stale._2))
  }

  def drawValidVariant(rnd: Random, idx: Int): CfgVariant = {
    val nSubs = 1 + rnd.nextInt(4)
    var ann = ConfigPerturb.DefaultAnn
    val subs = (1 to nSubs).map { j =>
      val (mask, a) = drawMask(rnd)
      if (mask.isDefined) ann = a // last drawn map wins; one shared annotation
      val mode =
        if (rnd.nextInt(4) == 0) Seq("sync", "none", "consume")(rnd.nextInt(3))
        else "forward"
      SubSpec(f"fz$j%02d", drawPattern(rnd), drawPath(rnd), mode,
        drawFilter(rnd), mask)
    }
    val store = if (subs.exists(_.mode == "sync")) drawStore(rnd) else None
    CfgVariant(f"fuzz_$idx%03d", subs,
      annMaps = Map(Masking.DefaultAnnotation -> ann),
      store = store)
  }

  // ---------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val nSchema = if (args.length > 2) args(2).toInt else 200
    val nSecondary = if (args.length > 3) args(3).toInt else 100
    val nValid = if (args.length > 4) args(4).toInt else 40
    val seed = if (args.length > 5) args(5).toLong else 20260817L
    val rnd = new Random(seed)

    val (s1, d1) = runSchemaPhase(nSchema, rnd)
    println(s"""{"phase":"schema-parity","draws":$s1,"divergences":$d1,"seed":$seed}""")
    val (s2, d2) = runSecondaryPhase(nSecondary, rnd)
    println(s"""{"phase":"secondary-parity","draws":$s2,"divergences":$d2}""")
    require(d1 + d2 == 0, s"rejection-parity divergences: schema=$d1 secondary=$d2")

    // phase 3: compile + dump valid draws for the DuckDB referee
    val vs = (1 to nValid).map(i => drawValidVariant(rnd, i))
    // every valid draw must PASS validation before it runs — ties the
    // two sides of the contract together
    vs.foreach { v =>
      v.subs.foreach { ss =>
        val sub = Subscription(ss.id, ss.id, ss.pattern, FbOptions(
          syncMode = ss.mode, targetPath = ss.path,
          filterRequired = ss.filter.exists(_.required),
          filterFieldPath = ss.filter.map(_.fieldPath).getOrElse(""),
          filterPassValues = ss.filter.map(_.passValues).getOrElse(Nil),
          maskingLevels = ss.mask.map(_.levels).getOrElse(Nil),
          maskingEmitLevel = ss.mask.map(_.emit).getOrElse("")))
        val errs = graft.model.Validation.validateSubscription(sub)
        require(errs.isEmpty, s"valid draw ${v.id}/${ss.id} failed validation: $errs")
      }
    }
    val spark = graft.Tuning.localSession()
    try graft.Verify.dump(spark, outDir,
      vs.map(v => (v.id, () => ConfigPerturb.run(spark, sfDir, v), ConfigPerturb.oracleFor(v))))
    finally spark.stop()
    println(s"""{"phase":"valid-referee-dump","draws":$nValid}""")
  }
}
