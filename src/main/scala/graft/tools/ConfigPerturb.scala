package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.model.{FbOptions, Subscription}
import graft.operators.Masking
import graft.streaming.Pipeline

/** Metamorphic CONFIG-variant harness (judge brief r17 → r18 #2).
  *
  * r17's Perturb proved the relational knobs (predicate constants,
  * ks, window widths). The reference's actual input space, though, is
  * CONFIGURATION — Subscription resources whose knobs couple
  * (schemas.py:187-196 `dependencies`): masking level ladders × emit
  * levels (kafka.json:8-9, annotations tests/__init__.py:954,1008),
  * overlapping wildcard `topic_pattern`s under first-match-after-id-
  * sort routing (artifacts.py:250-256), sync modes × filters × masks
  * (helpers.py:42-46, artifacts.py:345-358), and target-path
  * templates (artifacts.py:180-186). Each variant here compiles a
  * full Subscription pipeline — route → filter → mask → template →
  * canonical hash → sync gate, the exact chain `q_pipeline_e2e` runs
  * once — through the PRODUCTION compile ([[Pipeline.compileMulti]])
  * and the batch reference of the stream's gate ([[Pipeline.gateMulti]]) and
  * oracle-checks the result against an independently-generated DuckDB
  * query.
  *
  * Oracle independence: the SQL is built from the CONTRACT, not the
  * engine — glob matching becomes SQL `LIKE` (`*`→`%`, `?`→`_`,
  * evaluated by DuckDB, not Java regex), the mask ladder is
  * re-implemented in [[surviving]] (cross-checked against
  * `Masking.maskProjection` by ConfigPerturbSpec), canonical hashing
  * is re-stated as the Python-dumps string DuckDB concatenates
  * itself, and first-match routing is a SQL CASE in subscription-id
  * order.
  *
  * Output layout matches graft.Verify / graft.tools.Perturb (one
  * parquet dir per variant + oracle_sql.json), so
  * scripts/perturb_compare.py referees it unchanged.
  *
  * Usage: runMain graft.tools.ConfigPerturb <sfDir> <outDir>
  */
object ConfigPerturb {

  /** filter_required / filter_field_path / filter_pass_values
    * (examples.py:43-45) + the equivalent DuckDB predicate. */
  final case class FilterSpec(fieldPath: String, passValues: Seq[String],
      required: Boolean, condSql: String)

  /** masking_levels (low→high) / masking_emit_level /
    * masking_annotation (kafka.json:8-9). */
  final case class MaskSpec(levels: Seq[String], emit: String,
      annotation: String = Masking.DefaultAnnotation)

  /** One subscription's knobs. */
  final case class SubSpec(id: String, pattern: String,
      path: String = "_aether/entities/{topic}",
      mode: String = "forward",
      filter: Option[FilterSpec] = None,
      mask: Option[MaskSpec] = None)

  /** SYNC-gate hash-store fixture: which prepared rows are stored
    * (pred over doc_id), and which stored rows carry a STALE hash —
    * both as a Spark-SQL predicate (engine side) and a DuckDB
    * predicate over `id` (oracle side). */
  final case class StoreSpec(sparkPred: String, duckPred: String,
      sparkStale: Option[String] = None, duckStale: Option[String] = None)

  final case class CfgVariant(
      id: String,
      subs: Seq[SubSpec],
      // annotation name → field classifications stamped on the batch
      annMaps: Map[String, Map[String, String]] =
        Map(Masking.DefaultAnnotation -> DefaultAnn),
      store: Option[StoreSpec] = None,
      tenant: String = "tnant",
      kafkaSql: String = "'tnant.' || event_type") {
    def kafkaSpark: Column = {
      // kafkaSql is one of three shapes by construction; mirror it
      val s = kafkaSql
      if (s == "event_type") col("event_type")
      else {
        val pre = s.stripPrefix("'").takeWhile(_ != '\'')
        concat(lit(pre), col("event_type"))
      }
    }
  }

  /** Default field classifications (ladder positions chosen so each
    * emit level keeps a DIFFERENT field set). */
  val DefaultAnn: Map[String, String] = Map(
    "user_id" -> "confidential", "value" -> "secret", "props" -> "top secret")

  /** Payload fields in batch column order (events minus ts, event_id
    * renamed id) — doc_json field order and the mask-survivor domain. */
  val PayloadFields: Seq[String] = Seq("id", "user_id", "event_type", "value", "props")

  /** The mask-ladder contract, re-implemented independently of
    * Masking.maskProjection (artifacts.py:359-370): a field survives
    * iff unannotated, or its level sits at-or-below the emit level in
    * the ordered ladder; a level missing from the ladder is masked;
    * the id (upsert key) always survives. */
  def surviving(v: CfgVariant, sub: SubSpec): Seq[String] = sub.mask match {
    case None => PayloadFields
    case Some(m) =>
      val ann = v.annMaps.getOrElse(m.annotation, Map.empty)
      val ei = m.levels.indexOf(m.emit)
      require(ei >= 0, s"emit level ${m.emit} not in ${m.levels}")
      PayloadFields.filter(f => f == "id" ||
        ann.get(f).forall { l => val i = m.levels.indexOf(l); i >= 0 && i <= ei })
  }

  /** fnmatch glob → SQL LIKE (DuckDB evaluates it — no shared regex
    * path with the engine's rlike compilation). */
  def globToLike(g: String): String = {
    require(!g.contains('%') && !g.contains('_'),
      s"glob '$g' would need LIKE escaping")
    g.replace('*', '%').replace('?', '_')
  }

  // ---- canonical-JSON / to_json fragments the oracle concatenates.
  // Python json.dumps(sort_keys=True) spacing for the hash (utils.py:
  // 29-33); Spark to_json compact spacing for doc_json.
  private val PropsEsc =
    """replace(replace(props, chr(92), chr(92)||chr(92)), '"', chr(92)||'"')"""
  private def jsonFrag(f: String): String = f match {
    case "id"         => """'"id":' || id"""
    case "user_id"    => """'"user_id":' || user_id"""
    case "event_type" => """'"event_type":"' || event_type || '"'"""
    case "value"      => """'"value":' || value::VARCHAR"""
    case "props"      => s"""'"props":"' || $PropsEsc || '"'"""
  }
  private def canonFrag(f: String): String = f match {
    case "id"         => """'"id": ' || id"""
    case "user_id"    => """'"user_id": ' || user_id"""
    case "event_type" => """'"event_type": "' || event_type || '"'"""
    case "value"      => """'"value": ' || value::VARCHAR"""
    case "props"      => s"""'"props": "' || $PropsEsc || '"'"""
  }
  def jsonSql(fields: Seq[String]): String =
    fields.map(jsonFrag).mkString("'{' || ", " || ',' || ", " || '}'")
  def canonSql(fields: Seq[String]): String =
    fields.sorted.map(canonFrag).mkString("'{' || ", " || ', ' || ", " || '}'")

  /** The contract, restated as one DuckDB query. */
  def oracleFor(v: CfgVariant): String = {
    val subsSorted = v.subs.sortBy(_.id) // first match after id sort
    val p = v.tenant + "."
    val stripSql =
      s"CASE WHEN kafka_topic LIKE '$p%' THEN substr(kafka_topic, ${p.length + 1}) " +
        "ELSE kafka_topic END"
    val routeCase = subsSorted.map(s =>
        s"WHEN topic LIKE '${globToLike(s.pattern)}' THEN '${s.id}'")
      .mkString("CASE ", " ", " ELSE NULL END")
    def pathSql(tmpl: String): String = {
      val parts = tmpl.split(java.util.regex.Pattern.quote("{topic}"), -1)
      if (parts.length == 1) s"'$tmpl'"
      else parts.map(pt => s"'$pt'").mkString(" || topic || ")
    }
    def subCase(f: SubSpec => String): String =
      subsSorted.map(s => s"WHEN '${s.id}' THEN ${f(s)}")
        .mkString("CASE sub_id ", " ", " END")
    val filterCase = subCase(_.filter match {
      case Some(fs) if fs.required => s"(${fs.condSql})"
      case _                       => "TRUE"
    })
    val pathCase = subCase(s => pathSql(s.path))
    val jsonCase = subCase(s => jsonSql(surviving(v, s)))
    val hashCase = subCase(s => s"substr(md5(${canonSql(surviving(v, s))}), 1, 16)")
    val gateCase = subCase { s =>
      s.mode match {
        case "forward"          => "TRUE"  // gate ignores the store
        case "none" | "consume" => "FALSE" // branch emits nothing
        case "sync" => v.store match {
          case None => "TRUE" // empty store suppresses nothing
          case Some(st) =>
            // stored-with-current-hash rows are suppressed; stored-
            // with-STALE-hash rows differ from the live hash and pass
            val stale = st.duckStale.map(pr => s" OR ($pr)").getOrElse("")
            s"(NOT (${st.duckPred})$stale)"
        }
      }
    }
    s"""WITH base AS (SELECT event_id AS id, user_id, event_type, value, props,
       |    ${v.kafkaSql} AS kafka_topic
       |  FROM events),
       |t AS (SELECT *, $stripSql AS topic FROM base),
       |r AS (SELECT *, $routeCase AS sub_id FROM t),
       |f AS (SELECT * FROM r WHERE sub_id IS NOT NULL AND ($filterCase)),
       |d AS (SELECT id, topic, sub_id,
       |    $pathCase AS target_path,
       |    $jsonCase AS doc_json,
       |    $hashCase AS doc_hash
       |  FROM f)
       |SELECT CAST(id AS VARCHAR) AS doc_id, topic, sub_id, target_path,
       |  doc_hash, doc_json
       |FROM d WHERE ($gateCase)
       |ORDER BY id, sub_id""".stripMargin
  }

  private def toSub(ss: SubSpec): Subscription = Subscription(ss.id, ss.id,
    ss.pattern, FbOptions(
      syncMode = ss.mode,
      targetPath = ss.path,
      filterRequired = ss.filter.exists(_.required),
      filterFieldPath = ss.filter.map(_.fieldPath).getOrElse(""),
      filterPassValues = ss.filter.map(_.passValues).getOrElse(Nil),
      maskingAnnotation = ss.mask.map(_.annotation).getOrElse(Masking.DefaultAnnotation),
      maskingLevels = ss.mask.map(_.levels).getOrElse(Nil),
      maskingEmitLevel = ss.mask.map(_.emit).getOrElse("")))

  /** Compile + gate the variant through the production pipeline. */
  def run(s: SparkSession, dir: String, v: CfgVariant): DataFrame = {
    val ev0 = Tables.events(s, dir).withColumnRenamed("event_id", "id").drop("ts")
      .withColumn("kafka_topic", v.kafkaSpark)
    val ev = v.annMaps.foldLeft(ev0) { case (df, (name, cls)) =>
      Masking.annotate(df, cls, name)
    }
    val subs = v.subs.map(toSub)
    val prepared = Pipeline.compileMulti(subs, v.tenant, ev).cache()
    val anySync = v.subs.exists(_.mode == "sync")
    val anyDrop = v.subs.exists(x => x.mode == "none" || x.mode == "consume")
    val gated =
      if (v.store.isEmpty && !anySync && !anyDrop) prepared
      else {
        val store = v.store match {
          case Some(st) =>
            val h = st.sparkStale match {
              case Some(pr) => when(expr(pr), lit("0000000000000000"))
                .otherwise(col("doc_hash"))
              case None => col("doc_hash")
            }
            prepared.filter(expr(st.sparkPred))
              .select(col("target_path"), col("doc_id"), h.as("doc_hash"))
          case None => prepared.limit(0)
            .select("target_path", "doc_id", "doc_hash")
        }
        Pipeline.gateMulti(prepared, subs, store)
      }
    gated.select(col("doc_id"), col("topic"), col("sub_id"),
        col("target_path"), col("doc_hash"), col("doc_json"))
      .orderBy(col("doc_id").cast("long"), col("sub_id"))
  }

  // ---- filter specs (engine path + independent DuckDB predicate)
  private val FilterTypes = FilterSpec("event_type",
    Seq("purchase", "click", "view"), required = true,
    "event_type IN ('purchase','click','view')")
  private val FilterUser = FilterSpec("user_id", Seq("1", "2", "3"),
    required = true, "user_id::VARCHAR IN ('1','2','3')")
  private val FilterNotRequired = FilterSpec("event_type", Seq("purchase"),
    required = false, "TRUE")
  private val FilterEmptyPass = FilterSpec("event_type", Nil,
    required = true, "FALSE") // membership in ∅ passes nothing
  private val FilterMissingField = FilterSpec("no_such_field", Seq("x"),
    required = true, "FALSE") // path matches nothing ⇒ keeps nothing

  private def emit(level: String, levels: Seq[String] = Masking.DefaultLevels) =
    Some(MaskSpec(levels, level))

  /** The variant catalog — ≥30 config points spanning every coupled
    * knob pair the reference's schema `dependencies` blocks encode. */
  def variants: Seq[CfgVariant] = Seq(
    // ---- A. mask ladder: emit level × ladder ordering × annotation name
    CfgVariant("cfg_mask_emit_public",
      Seq(SubSpec("s1", "*", mask = emit("public")))),
    CfgVariant("cfg_mask_emit_confidential",
      Seq(SubSpec("s1", "*", mask = emit("confidential")))),
    CfgVariant("cfg_mask_emit_secret",
      Seq(SubSpec("s1", "*", mask = emit("secret")))),
    CfgVariant("cfg_mask_emit_topsecret",
      Seq(SubSpec("s1", "*", mask = emit("top secret")))),
    CfgVariant("cfg_mask_emit_ufos",
      Seq(SubSpec("s1", "*", mask = emit("ufos")))),
    CfgVariant("cfg_mask_none",
      Seq(SubSpec("s1", "*"))),
    CfgVariant("cfg_mask_levels_reversed",
      Seq(SubSpec("s1", "*",
        mask = Some(MaskSpec(Masking.DefaultLevels.reverse, "secret"))))),
    CfgVariant("cfg_mask_levels_custom3",
      Seq(SubSpec("s1", "*",
        mask = Some(MaskSpec(Seq("low", "mid", "high"), "mid")))),
      annMaps = Map(Masking.DefaultAnnotation ->
        Map("user_id" -> "low", "value" -> "high", "props" -> "mid"))),
    CfgVariant("cfg_mask_level_unknown",
      Seq(SubSpec("s1", "*",
        mask = Some(MaskSpec(Seq("public", "confidential"), "confidential"))))),
    CfgVariant("cfg_mask_annotation_custom",
      Seq(SubSpec("s1", "*",
        mask = Some(MaskSpec(Masking.DefaultLevels, "public", "my_mask")))),
      annMaps = Map(
        Masking.DefaultAnnotation -> DefaultAnn, // must be IGNORED
        "my_mask" -> Map("value" -> "confidential"))),
    CfgVariant("cfg_mask_id_immune",
      Seq(SubSpec("s1", "*", mask = emit("public"))),
      annMaps = Map(Masking.DefaultAnnotation -> (DefaultAnn + ("id" -> "ufos")))),
    CfgVariant("cfg_mask_emit_public_single",
      Seq(SubSpec("s1", "*", mask = emit("public")))),

    // ---- B. routing: overlap order, '?', no-match, templates, tenant strip
    CfgVariant("cfg_route_catchall_first",
      Seq(SubSpec("s1", "c*", path = "a/{topic}"),
          SubSpec("s2", "*", path = "b/{topic}"),
          SubSpec("s3", "p?rchase", path = "c/{topic}"))),
    CfgVariant("cfg_route_catchall_last",
      Seq(SubSpec("a1", "c*", path = "a/{topic}"),
          SubSpec("a2", "p?rchase", path = "b/{topic}"),
          SubSpec("a3", "*", path = "c/{topic}"))),
    CfgVariant("cfg_route_question_glob",
      Seq(SubSpec("q1", "vie?", path = "v/{topic}"),
          SubSpec("q2", "?rror", path = "e/{topic}"),
          SubSpec("q3", "*", path = "r/{topic}"))),
    CfgVariant("cfg_route_no_catchall",
      Seq(SubSpec("n1", "zz*"), SubSpec("n2", "signup"))),
    CfgVariant("cfg_route_same_pattern_twice",
      Seq(SubSpec("r1", "*", path = "first/{topic}"),
          SubSpec("r2", "*", path = "second/{topic}"))),
    CfgVariant("cfg_route_path_static",
      Seq(SubSpec("s1", "*", path = "fixed/entities/all"))),
    CfgVariant("cfg_route_path_double_topic",
      Seq(SubSpec("s1", "*", path = "t/{topic}/mid/{topic}/leaf"))),
    CfgVariant("cfg_route_tenant_regexchar",
      Seq(SubSpec("s1", "*")),
      tenant = "t.nant", kafkaSql = "'t.nant.' || event_type"),
    CfgVariant("cfg_route_unprefixed_topic",
      Seq(SubSpec("s1", "*")),
      kafkaSql = "event_type"),
    CfgVariant("cfg_route_mask_per_sub", // CaseWhen projection: each row
      Seq(SubSpec("s1", "p*", mask = emit("public")),   // pays ITS sub's mask
          SubSpec("s2", "*", mask = emit("secret")))),
    CfgVariant("cfg_route_double_prefix",
      Seq(SubSpec("d1", "tnant.*", path = "p/{topic}"), SubSpec("d2", "*")),
      kafkaSql = "'tnant.tnant.' || event_type"),

    // ---- C. filters: field kinds, required=false, empty/missing
    CfgVariant("cfg_filter_event_types",
      Seq(SubSpec("s1", "*", filter = Some(FilterTypes)))),
    CfgVariant("cfg_filter_user_id",
      Seq(SubSpec("s1", "*", filter = Some(FilterUser)))),
    CfgVariant("cfg_filter_required_false",
      Seq(SubSpec("s1", "*", filter = Some(FilterNotRequired)))),
    CfgVariant("cfg_filter_empty_pass_values",
      Seq(SubSpec("f1", "c*", filter = Some(FilterEmptyPass)),
          SubSpec("f2", "*"))),
    CfgVariant("cfg_filter_missing_field",
      Seq(SubSpec("m1", "e*", filter = Some(FilterMissingField)),
          SubSpec("m2", "*"))),
    CfgVariant("cfg_filter_per_sub",
      Seq(SubSpec("s1", "c*", filter = Some(FilterUser)),
          SubSpec("s2", "*", filter = Some(FilterSpec("event_type",
            Seq("view", "signup"), required = true,
            "event_type IN ('view','signup')"))))),

    // ---- D. sync gate: store presence, staleness, mode mix
    CfgVariant("cfg_sync_even_store",
      Seq(SubSpec("s1", "*", mode = "sync")),
      store = Some(StoreSpec("CAST(doc_id AS BIGINT) % 2 = 0", "id % 2 = 0"))),
    CfgVariant("cfg_sync_stale_store",
      Seq(SubSpec("s1", "*", mode = "sync")),
      store = Some(StoreSpec("CAST(doc_id AS BIGINT) % 2 = 0", "id % 2 = 0",
        Some("CAST(doc_id AS BIGINT) % 3 = 0"), Some("id % 3 = 0")))),
    CfgVariant("cfg_sync_empty_store",
      Seq(SubSpec("s1", "*", mode = "sync"))),
    CfgVariant("cfg_forward_ignores_store",
      Seq(SubSpec("s1", "*", mode = "forward")),
      store = Some(StoreSpec("CAST(doc_id AS BIGINT) % 2 = 0", "id % 2 = 0"))),
    CfgVariant("cfg_mode_none_multi",
      Seq(SubSpec("n1", "e*", mode = "none"), SubSpec("n2", "*"))),
    CfgVariant("cfg_mode_consume_multi",
      Seq(SubSpec("c1", "s*", mode = "consume"), SubSpec("c2", "*"))),
    CfgVariant("cfg_sync_mixed_multi",
      Seq(SubSpec("x1", "p*", mode = "sync"), SubSpec("x2", "*")),
      store = Some(StoreSpec("CAST(doc_id AS BIGINT) % 2 = 0", "id % 2 = 0"))),
    CfgVariant("cfg_sync_single_gate",
      Seq(SubSpec("s1", "*", mode = "sync", mask = emit("confidential"))),
      store = Some(StoreSpec("CAST(doc_id AS BIGINT) % 2 = 0", "id % 2 = 0"))),

    // ---- E. the full coupled grid: filter × mask × sync × template
    CfgVariant("cfg_e2e_grid",
      Seq(SubSpec("g1", "*", path = "_aether/entities/{topic}", mode = "sync",
        filter = Some(FilterSpec("event_type", Seq("purchase", "click", "error"),
          required = true, "event_type IN ('purchase','click','error')")),
        mask = emit("confidential"))),
      store = Some(StoreSpec("CAST(doc_id AS BIGINT) % 2 = 0", "id % 2 = 0",
        Some("CAST(doc_id AS BIGINT) % 5 = 0"), Some("id % 5 = 0")))))

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val spark = graft.Tuning.localSession()
    val vs = variants
    try graft.Verify.dump(spark, outDir, vs.map(v => (v.id, () => run(spark, sfDir, v), oracleFor(v))))
    finally spark.stop()
    System.err.println(s"[cfgperturb] ${vs.size} config variants dumped")
  }
}
