package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import org.json4s._

import graft.model.JsonCodec
import graft.sources.{DocumentSink, JsonFileSink}

/** Rebuildable job wiring. A running job holds a live DataFrame and a
  * sink factory — neither survives a JVM restart. These specs are the
  * persistable equivalents: strings + options from which the stream
  * and sink are reconstructed, the same way a real deploy configures
  * them. The registry stores a [[JobStartSpec]] per started job (the
  * reference persists all resource state per-tenant in Redis via its
  * consumer SDK — firebase/app/consumer.py:9-18,
  * docker-compose.yml:27-33 — so definitions and jobs survive process
  * restarts; our store is the same [[graft.sources.RtdbStore]] tree
  * the control plane already uses).
  */
final case class StreamSourceSpec(
    format: String,
    path: String,
    schemaDdl: String = "",
    options: Map[String, String] = Map.empty) {
  def build(spark: SparkSession): DataFrame = {
    val reader = spark.readStream.format(format).options(options)
    val withSchema =
      if (schemaDdl.nonEmpty) reader.schema(StructType.fromDDL(schemaDdl)) else reader
    if (path.nonEmpty) withSchema.load(path) else withSchema.load()
  }

  def toJson: JValue = JObject(
    "format" -> JString(format),
    "path" -> JString(path),
    "schema_ddl" -> JString(schemaDdl),
    "options" -> JObject(options.toList.sortBy(_._1).map { case (k, v) => k -> (JString(v): JValue) }))
}

object StreamSourceSpec {
  def fromJson(j: JValue): StreamSourceSpec = StreamSourceSpec(
    format = JsonCodec.str(j, "format"),
    path = JsonCodec.str(j, "path"),
    schemaDdl = JsonCodec.str(j, "schema_ddl"),
    options = j \ "options" match {
      case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty
    })
}

/** Persistable sink description. Only sinks constructible from plain
  * config belong here; exotic test sinks keep using the factory-based
  * `startJob` overload and are simply not resumable across restarts. */
sealed trait SinkSpec {
  def build(): DocumentSink
  def toJson: JValue
}

/** The filesystem CFS emulation ([[JsonFileSink]]). */
final case class JsonFileSinkSpec(root: String) extends SinkSpec {
  def build(): DocumentSink = new JsonFileSink(root)
  def toJson: JValue = JObject("kind" -> JString("jsonfile"), "root" -> JString(root))
}

object SinkSpec {
  def fromJson(j: JValue): SinkSpec = JsonCodec.str(j, "kind") match {
    case "jsonfile" => JsonFileSinkSpec(JsonCodec.str(j, "root"))
    case other => throw new IllegalArgumentException(s"unknown sink kind '$other'")
  }
}

/** Everything `startJob` needs, in persistable form. */
final case class JobStartSpec(source: StreamSourceSpec, sink: SinkSpec, workDir: String) {
  def toJson: JValue = JObject(
    "source" -> source.toJson,
    "sink" -> sink.toJson,
    "work_dir" -> JString(workDir))
}

object JobStartSpec {
  def fromJson(j: JValue): JobStartSpec = JobStartSpec(
    source = StreamSourceSpec.fromJson(j \ "source"),
    sink = SinkSpec.fromJson(j \ "sink"),
    workDir = JsonCodec.str(j, "work_dir"))
}
