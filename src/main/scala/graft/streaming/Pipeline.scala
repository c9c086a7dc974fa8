package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.functions.GraftFunctions.canonical_hash
import graft.model.Subscription
import graft.operators.{Filters, Masking, Routing, SubscriptionRoute, SyncGate}
import graft.sources.DocumentSink

/** The reference's steady-state data path (SURVEY §3.2) as one
  * Structured Streaming pipeline:
  *
  *   source → route(topic glob, tenant strip) → filter(field path ∈
  *   pass values) → mask(classification ≤ emit level) → target-path
  *   template → canonical hash → per-key dedupe + sync gate (stored
  *   hash compare) → batched idempotent upsert sink + hash-store
  *   rewrite.
  *
  * `compileMulti` serves batch and streaming alike. In batch, the
  * gate is `dedupeBatch` → `gateMulti` (oracle-verified:
  * Queries.qPipelineE2e runs it over one subscription). The stream
  * (`StreamingJob.start`, N subscriptions per micro-batch) runs
  * `batchPass`, which does the dedupe, the gate, the upsert and the
  * store rewrite in one bucket-partitioned pass with the same results
  * — replacing the reference's 1-message-per-0.5 s poll loop
  * (artifacts.py:263-285) with micro-batches; offsets live in the
  * checkpoint instead of Kafka group commits (A25 ⇒ effectively-once
  * with the idempotent sink).
  *
  * Cadence: while the source has data waiting, the next micro-batch
  * starts as soon as the previous one ends, so a backlog drains at
  * batch speed; a trigger that finds no new data sleeps
  * `spark.sql.streaming.pollingDelay` (1 s, pinned by
  * [[graft.Tuning.engineDefaults]]) before polling again. This replaces
  * the reference's sleep of 0.5 s on every cycle, data or not.
  *
  * Scale notes: every compile stage is a narrow projection; the pass
  * shuffles the batch and the stored hashes once, by store bucket, and
  * writes from the tasks of that shuffle (executor-side sink
  * connections, ≤50-doc commits per the reference's WriteBatch limit).
  * Without a SYNC subscription the store is not read and the writes
  * come from the tasks of the dedupe's shuffle.
  */
object Pipeline {

  /** Decode stage for a binary-Avro source (the reference's actual
    * input: every Kafka message value is an Avro datum,
    * artifacts.py:270-272). `(kafka_topic, value binary, …)` →
    * `(kafka_topic, …, <decoded payload columns>)`, with the schema's
    * `@aether_*` annotations attached so downstream masking applies to
    * decoded payloads. Heterogeneous topics carry different schemas —
    * branch per topic upstream (the same per-topic split compileMulti
    * already does), one decode schema per branch. */
  def decodeAvro(df: DataFrame, avroSchemaJson: String,
                 valueCol: String = "value"): DataFrame = {
    val struct = graft.sources.AvroSchemaBridge.parse(avroSchemaJson)
    flattenDecoded(df, df.columns.filterNot(_ == valueCol).toIndexedSeq,
      graft.functions.AvroColumns.avro_decode(col(valueCol), avroSchemaJson), struct)
  }

  /** `others` carried through, plus the `decoded` struct's fields as
    * top-level columns with the schema's field metadata (the
    * `@aether_*` annotations masking reads). Fails fast on name
    * collisions — downstream compile/masking would otherwise hit
    * ambiguous-reference errors far from the cause. Two projections on
    * purpose: CollapseProject refuses to merge them because merging
    * would duplicate the non-cheap decode expression — guaranteeing
    * exactly ONE Avro decode per row even on interpreted /
    * subexpression-elimination-disabled paths. */
  private def flattenDecoded(df: DataFrame, others: IndexedSeq[String],
                             decoded: Column, struct: StructType): DataFrame = {
    val collisions = struct.fields.map(_.name).toSet
      .intersect(others.toSet + "_payload")
    require(collisions.isEmpty,
      s"decoded Avro field(s) ${collisions.mkString(", ")} collide with " +
        "carried-through column(s); rename or drop them upstream of the decode")
    df.select(others.map(col) :+ decoded.as("_payload"): _*)
      .select(others.map(col) ++ struct.fields.map(f =>
        col("_payload").getField(f.name).as(f.name, f.metadata)): _*)
  }

  /** Mid-stream schema evolution for the decode stage — the consumer
    * of [[graft.sources.SchemaRegistry]]'s change surface (reference:
    * the poll loop checks each message's schema against the topic
    * cache and carries on — detect, never reject —
    * artifacts.py:314-318,378-380). `generations()` is re-read every
    * micro-batch, newest LAST (= the reader contract); when the newest
    * schema's fingerprint differs from the registry's cached one, the
    * decode projection is rebuilt on that very batch — no restart, no
    * rejection, and `onChange` fires once per evolution (wired to the
    * job log by the registry layer).
    *
    * Rows are decoded by their WRITER generation: a `schema_fp` column
    * (the stand-in for the reference's per-message schema) selects the
    * generation via a CaseWhen over [[graft.functions.AvroColumns
    * .avro_decode_evolved]] branches, all resolving to the newest
    * reader schema — so one batch straddling the evolution decodes
    * both generations into the SAME evolved shape. Rows with an
    * unknown fingerprint (or streams without the column) decode
    * optimistically with the newest schema, mirroring the reference's
    * cached-schema fallback. */
  final class SchemaAwareDecoder(
      registry: graft.sources.SchemaRegistry,
      topic: String,
      generations: () => Seq[String],
      valueCol: String = "value",
      fpCol: String = "schema_fp",
      onChange: (StructType, StructType) => Unit = (_, _) => ())
    extends (DataFrame => DataFrame) {

    def apply(batch: DataFrame): DataFrame = {
      val gens = generations()
      require(gens.nonEmpty, "schema generations must be non-empty")
      val reader = gens.last
      val readerStruct = graft.sources.AvroSchemaBridge.parse(reader)
      registry.observe(topic, reader) match {
        case registry.Changed(previous) => onChange(previous, readerStruct)
        case _ =>
      }
      val hasFp = batch.columns.contains(fpCol)
      val decoded: Column =
        if (hasFp) {
          val branches = gens.map { g =>
            (col(fpCol) === lit(graft.sources.AvroSchemaBridge.fingerprint(g).toString),
              graft.functions.AvroColumns.avro_decode_evolved(col(valueCol), reader, g))
          }
          branches.foldRight(
              graft.functions.AvroColumns.avro_decode(col(valueCol), reader): Column) {
            case ((cond, dec), acc) => when(cond, dec).otherwise(acc)
          }
        } else graft.functions.AvroColumns.avro_decode(col(valueCol), reader)
      flattenDecoded(batch, batch.columns
        .filterNot(c => c == valueCol || (hasFp && c == fpCol)).toIndexedSeq,
        decoded, readerStruct)
    }
  }

  /** Subscription compile (reference: one consumer serves N
    * subscriptions, first glob match after id sort wins —
    * artifacts.py:250-256). Input contract: `kafka_topic` string column
    * + an `id` column + payload columns; output: surviving rows as
    * `(doc_id, topic, sub_id, target_path, doc_json, doc_hash)` plus
    * `extraCols`. Routes once against ALL subscriptions, then
    * evaluates every per-subscription filter/mask as ONE
    * conditional projection keyed by `sub_id` — a single scan of the
    * micro-batch regardless of fan-out (no per-branch union, which
    * Catalyst would not share, re-reading the batch once per
    * subscription). CaseWhen evaluates only the matched branch, so a
    * row pays exactly its own subscription's mask/hash cost.
    * `extraCols` (e.g. a source offset column) are carried through for
    * downstream ordering. */
  def compileMulti(subs: Seq[Subscription], tenant: String, df: DataFrame,
                   extraCols: Seq[String] = Nil): DataFrame = {
    require(subs.nonEmpty, "at least one subscription")
    val routes = subs.map(s =>
      SubscriptionRoute(s.id, s.topicPattern, s.fbOptions.targetPath))
    val routed = Routing.route(df, col("kafka_topic"), tenant, routes)
      .filter(col("sub_id").isNotNull)
    val payloadCols = df.columns
      .filterNot(c => c == "kafka_topic" || extraCols.contains(c)).toIndexedSeq
    val payloadSchema = StructType(
      routed.schema.fields.filter(f => payloadCols.contains(f.name)))

    // row passes iff ITS subscription's filter passes (rows are owned
    // by exactly one sub_id after first-match-wins routing)
    val pass = subs.map { sub =>
      val o = sub.fbOptions
      // compile against the payload-only schema: wildcard/recursive
      // paths ($.*, $..id) must see message fields, never the engine's
      // routing metadata (sub_id/topic/target_path) — the reference
      // filters the message dict alone
      val cond =
        if (o.filterRequired)
          Filters.fieldPathCondition(payloadSchema, o.filterFieldPath, o.filterPassValues)
        else lit(true)
      (col("sub_id") === sub.id) && cond
    }.reduce(_ || _)

    // the subscription's masked document as a struct expression (the
    // pruned expressions maskProjection builds — nested masked fields
    // stay pruned; the id is the upsert key and always survives)
    def docStruct(sub: Subscription): Column = {
      val o = sub.fbOptions
      val kept: Seq[Column] =
        if (o.maskingEmitLevel.nonEmpty && o.maskingLevels.nonEmpty) {
          val pruned = Masking.maskProjection(payloadSchema,
            o.maskingEmitLevel, o.maskingLevels, o.maskingAnnotation)
          if (pruned.exists(_._1 == "id")) pruned.map(_._2)
          else {
            val byName = pruned.toMap
            payloadCols.flatMap(c =>
              if (c == "id") Some(col("id").as("id")) else byName.get(c))
          }
        } else payloadCols.map(col)
      struct(kept: _*)
    }

    def perSub(f: Subscription => Column): Column =
      subs.tail.foldLeft(when(col("sub_id") === subs.head.id, f(subs.head))) {
        (acc, s) => acc.when(col("sub_id") === s.id, f(s))
      }

    routed.filter(pass)
      .withColumn("doc_id", col("id").cast("string"))
      .withColumn("doc_json", perSub(s => to_json(docStruct(s))))
      .withColumn("doc_hash", perSub(s => canonical_hash(docStruct(s))))
      .select((Seq("doc_id", "topic", "sub_id", "target_path",
        "doc_json", "doc_hash") ++ extraCols).map(col): _*)
  }

  /** One surviving row per doc_id within a micro-batch. A batch can
    * legitimately carry several versions of the same document; the
    * sink writes in partition order (nondeterministic) and the hash
    * store must record exactly the version the sink kept, so both
    * consume this deterministic selection. With a Kafka source the
    * caller should pass the offset column as `orderCol` so the LAST
    * message wins (the reference's sequential semantics); without one,
    * the max canonical hash is used as a stable tie-break. The stream
    * applies the same rule inside [[batchPass]]; this form is the
    * batch reference for it. */
  def dedupeBatch(prepared: DataFrame, orderCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = orderCol.map(c => col(c).desc).getOrElse(col("doc_hash").desc)
    // the sink's upsert key is (target_path, doc_id) — the same id on
    // two topics/subscriptions is two distinct documents
    val w = Window.partitionBy(col("target_path"), col("doc_id")).orderBy(ord)
    prepared.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Per-subscription sync-mode gate over a multi-subscription batch:
    * FORWARD branches pass, NONE/CONSUME branches drop, SYNC branches
    * anti-join the hash store — one partitioned pass, not one job per
    * subscription. The change-detection key is (target_path, doc_id,
    * doc_hash) — a deliberate refinement of the reference's
    * global-by-id RTDB store (config.py:37), which cannot distinguish
    * destinations. The batch reference of [[batchPass]]'s gate
    * (q_pipeline_e2e, ConfigPerturb and the benchmark's recompute run
    * it); the stream does not call it. */
  def gateMulti(prepared: DataFrame, subs: Seq[Subscription],
                hashStore: => DataFrame): DataFrame = {
    val fwd = modeIds(subs, SyncGate.Forward)
    val sync = modeIds(subs, SyncGate.Sync)
    val forwarded = prepared.filter(col("sub_id").isin(fwd: _*))
    if (sync.isEmpty) forwarded
    else forwarded.unionByName(
      SyncGate.needsUpdate(prepared.filter(col("sub_id").isin(sync: _*)),
        hashStore, Seq("target_path", "doc_id", "doc_hash")))
  }

  private def modeIds(subs: Seq[Subscription], m: SyncGate.SyncMode): Seq[String] =
    subs.filter(s => SyncGate.parseMode(s.fbOptions.syncMode) == m).map(_.id)

  /** One micro-batch of the consumer. With a SYNC subscription the
    * dedupe, sync gate, upsert and hash-store rewrite run as one
    * bucket-partitioned pass ([[HashStore.pass]]): each row of
    * `compiled` ([[compileMulti]]'s output) is tagged with its
    * subscription's sync mode, and per (target_path, doc_id) the first
    * batch row in `orderCol`-descending order (else max `doc_hash`)
    * wins — [[dedupeBatch]]'s rule. Then [[gateMulti]]'s gate: a
    * FORWARD winner is written; a SYNC winner is written, and its hash
    * stored, only when it differs from the stored hash; a NONE/CONSUME
    * winner is dropped. Each task commits its written documents in
    * ≤`maxSubmit` groups as it walks, and yields each bucket whose
    * SYNC keys changed as soon as the bucket's last key is decided;
    * the store publishes them once the write job has committed. A task
    * that fails after partial sink commits leaves the store as it was,
    * so the replayed batch rewrites those documents; a replay after the
    * publish finds every SYNC hash stored and writes only FORWARD
    * documents. At most two Spark jobs per micro-batch (with AQE, the
    * shuffle's map stage runs as a job of its own before the write)
    * and nothing cached.
    *
    * Without a SYNC subscription there is no stored hash to compare or
    * keep, so the store is not read: the FORWARD winners of
    * [[dedupeBatch]] are written from the dedupe's own tasks. The pass
    * would stage nothing for such a job, but its staging write costs
    * about 60 ms a micro-batch that this path does not pay (StreamBench
    * at 2000-row batches, 4 cores: ~15% fewer docs/s through the pass).
    * Both paths write through a [[DocumentSink.Committer]] per task. */
  def batchPass(compiled: DataFrame, subs: Seq[Subscription], orderCol: Option[String],
                store: HashStore, mkSink: () => DocumentSink): Unit = {
    val sync = modeIds(subs, SyncGate.Sync)
    val fwd = modeIds(subs, SyncGate.Forward)
    if (sync.nonEmpty) {
      val mode = when(col("sub_id").isin(sync: _*), HashStore.SyncRow)
        .when(col("sub_id").isin(fwd: _*), HashStore.ForwardRow)
        .otherwise(HashStore.DropRow)
      store.pass(compiled.withColumn("_mode", mode),
        orderCol.map(col).getOrElse(col("doc_hash")), Some(mkSink))
    } else if (fwd.nonEmpty)
      dedupeBatch(compiled, orderCol).filter(col("sub_id").isin(fwd: _*))
        .select(col("target_path"), col("doc_id"), col("doc_json"))
        .foreachPartition { (rows: Iterator[Row]) =>
          val out = new DocumentSink.Committer(mkSink)
          rows.foreach(r => out.write(DocumentSink.Doc(r.getString(0), r.getString(1), r.getString(2))))
          out.flush()
        }
  }
}

/** Durable (target_path, doc_id) → doc_hash table backing SYNC-mode
  * change detection — the Spark-side equivalent of the reference's RTDB
  * `_aether/entityHash/{id}` store (config.py:37, helpers.py:51-67),
  * maintained as parquet rewritten per micro-batch (no driver state).
  *
  * Scale design: the store is hash-partitioned into `numBuckets`
  * directories keyed by `pmod(hash(target_path, doc_id), numBuckets)`.
  * Every update is one bucket-partitioned [[pass]]: the batch rows and
  * the stored rows are shuffled by bucket together, and the walk over
  * each bucket's sorted key runs yields that bucket's full new contents
  * only when one of its keys changed, so only changed buckets are
  * rewritten, each as one file. The walk holds one bucket's keys and
  * hashes at a time (never document bodies); at billions of ids raise
  * numBuckets so a bucket stays executor-sized.
  *
  * Commit protocol (object-store-safe, no directory renames on the
  * read path): bucket data lives in immutable uniquely-named dirs; the
  * single `_manifest` file maps bucket → (current dir, previous dir)
  * and is swapped atomically (FileContext rename with OVERWRITE —
  * atomic on HDFS and local FS; a single small PUT on object stores).
  * A pass writes its buckets to a staging dir; only after the write job
  * commits does the driver rename each staged `bucket=N` dir to a fresh
  * immutable name and flip the manifest, so a failed pass publishes
  * nothing. Readers resolve the manifest first, so they see the old or
  * the new store, never a mix. Each bucket's PREVIOUS generation is
  * kept until the bucket's next rewrite (GC is N-2), so a `load()`
  * DataFrame that was planned before a pass can still materialize
  * afterwards; a crash mid-pass leaves only orphan dirs,
  * garbage-collected by the next publish. The manifest also records
  * the store's bucket count: reopening an existing store derives the
  * modulus from the manifest, so a caller passing a different
  * `numBuckets` cannot split a key across two bucket dirs. All I/O goes
  * through the Hadoop FileSystem API — no java.io.File local-FS
  * assumptions. On the local FS of a session built by
  * `Tuning.engineDefaults` the commit path (bucket writes, publish
  * renames, manifest flip) starts no processes
  * ([[graft.sources.NioRawLocalFileSystem]]).
  *
  * Concurrency: passes are synchronized per instance, and a store path
  * must have a SINGLE writer (one StreamingJob — the registry enforces
  * one query per job). Two concurrent writers on one path would race
  * the last-writer-wins manifest flip and drop each other's updates;
  * readers are safe at any concurrency. */
final class HashStore(spark: SparkSession, path: String, numBuckets: Int = 16) {
  import org.apache.hadoop.fs.{FileContext, Options, Path => HPath}
  import org.apache.spark.sql.types._

  private val schema = StructType(Seq(
    StructField("target_path", StringType),
    StructField("doc_id", StringType), StructField("doc_hash", StringType)))

  private val root = new HPath(path)
  private val manifestFile = new HPath(root, "_manifest")
  private lazy val hadoopConf = spark.sessionState.newHadoopConf()
  private def fs = root.getFileSystem(hadoopConf)

  /** Manifest snapshot: recorded bucket count + per-bucket current and
    * previous (pending-GC) dir names, all relative to root. */
  private case class Manifest(buckets: Int, cur: Map[Int, String],
                              prev: Map[Int, String])

  private def readManifest(): Manifest = {
    if (!fs.exists(manifestFile)) return Manifest(numBuckets, Map.empty, Map.empty)
    val in = fs.open(manifestFile)
    try {
      val lines = scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      val header = lines.headOption.filter(_.startsWith("#buckets="))
        .map(_.stripPrefix("#buckets=").toInt)
      val entries = lines.filterNot(_.startsWith("#")).map { line =>
        line.split('\t') match {
          case Array(b, dir)       => (b.toInt, dir, "")
          case Array(b, dir, prev) => (b.toInt, dir, prev)
        }
      }
      // headerless (pre-pinning) manifest: the constructor value is a
      // guess. If an entry's bucket index disproves it, refuse rather
      // than split keys across two moduli and then pin the wrong one.
      if (header.isEmpty && entries.exists(_._1 >= numBuckets))
        throw new IllegalStateException(
          s"legacy manifest at $manifestFile has bucket indexes >= numBuckets=$numBuckets; " +
            "reopen the store with its original bucket count to migrate the header")
      Manifest(header.getOrElse(numBuckets),
        entries.map(e => e._1 -> e._2).toMap,
        entries.collect { case (b, _, p) if p.nonEmpty => b -> p }.toMap)
    } finally in.close()
  }

  private def writeManifest(m: Manifest): Unit = {
    val tmp = new HPath(root, s"_manifest.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try {
      val body = m.cur.toSeq.sorted
        .map { case (b, d) => s"$b\t$d\t${m.prev.getOrElse(b, "")}" }
      out.write((s"#buckets=${m.buckets}" +: body).mkString("\n").getBytes("UTF-8"))
    } finally out.close()
    FileContext.getFileContext(root.toUri, hadoopConf)
      .rename(tmp, manifestFile, Options.Rename.OVERWRITE)
  }

  private def emptyDf =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def readDirs(dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) emptyDf
    else spark.read.schema(schema)
      .parquet(dirs.map(d => new HPath(root, d).toString): _*)

  def load(): DataFrame = readDirs(readManifest().cur.values.toSeq)

  /** Bulk upsert of `(target_path, doc_id, doc_hash)` rows without a
    * sink — seeds and checks a store in specs; the stream updates the
    * store through [[Pipeline.batchPass]]. New rows win over stored
    * rows per (target_path, doc_id); of several rows for one key the
    * max hash wins, so a key never ends up with two stored hashes
    * (which would permanently suppress legitimate future writes). A
    * bucket is rewritten only when one of its keys' hashes changed. */
  private[graft] def merge(updates: DataFrame): Unit =
    pass(updates.select(col("target_path"), col("doc_id").cast("string"), col("doc_hash"),
        lit(null).cast("string").as("doc_json"), lit(HashStore.SyncRow).as("_mode")),
      col("doc_hash"), None)

  /** The one update path. `batch` carries `target_path`, `doc_id`,
    * `doc_hash`, `doc_json` and a `_mode` ([[HashStore.SyncRow]],
    * [[HashStore.ForwardRow]] or [[HashStore.DropRow]]); `order` ranks
    * a key's batch rows, the highest first. The batch rows (`_src` 0)
    * and the stored rows (`_src` 1) are bucketed, shuffled by bucket
    * and sorted by (bucket, target_path, doc_id, _src, order desc), so
    * each key is one run whose first row is the batch winner and whose
    * last row is the stored hash. The walk over each task's runs
    * commits the documents to write to one sink from `mkSink` per
    * task, and yields the new contents of each bucket with a changed
    * SYNC key. Writing those into a staging dir is the pass's only
    * action; the staged `bucket=N` dirs are published after it
    * commits. */
  private[streaming] def pass(batch: DataFrame, order: Column,
      mkSink: Option[() => DocumentSink]): Unit = synchronized {
    val manifest = readManifest()
    val buckets = manifest.buckets // existing store's modulus wins
    val rows = batch.select(col("target_path"), col("doc_id"), col("doc_hash"),
      col("doc_json"), col("_mode"), lit(0).as("_src"), order.as("_ord"))
    val stored = readDirs(manifest.cur.values.toSeq).withColumn("_src", lit(1))
    val walk = HashStore.walk(mkSink) _
    val next = rows.unionByName(stored, allowMissingColumns = true)
      .withColumn("bucket", pmod(hash(col("target_path"), col("doc_id")), lit(buckets)))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("target_path"), col("doc_id"), col("_src"),
        col("_ord").desc)
      .select(HashStore.PassColumns.map(col): _*)
      .mapPartitions(walk)(Encoders.row(schema.add("bucket", IntegerType)))
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val staging = new HPath(root, s".stage-$stamp")
    next.write.partitionBy("bucket").parquet(staging.toString)
    publish(manifest, staging, stamp)
  }

  /** Publishes every `bucket=N` dir of a committed staging dir under a
    * fresh immutable name, flips the manifest in one rename, then
    * garbage-collects what the new manifest no longer references. */
  private def publish(manifest: Manifest, staging: HPath, stamp: String): Unit = {
    val staged = fs.listStatus(staging).toSeq.map(_.getPath.getName)
      .collect { case HashStore.StagedBucket(b) => b.toInt }.sorted
    if (staged.isEmpty) { fs.delete(staging, true); return }
    val replaced = staged.map { b =>
      val dir = s"b$b-$stamp"
      if (!fs.rename(new HPath(staging, s"bucket=$b"), new HPath(root, dir)))
        throw new java.io.IOException(s"cannot publish bucket $b of $root")
      b -> dir
    }.toMap
    // replaced buckets retire their current dir to prev (kept one more
    // generation); untouched buckets keep both entries as-is
    val nextManifest = Manifest(manifest.buckets,
      manifest.cur ++ replaced,
      manifest.prev ++ replaced.keys.map(b =>
        b -> manifest.cur.getOrElse(b, "")).filter(_._2.nonEmpty))
    writeManifest(nextManifest)

    // GC: anything unreferenced by the new manifest (incl. its prev
    // generation), stage leftovers, and manifest temp files
    val live = nextManifest.cur.values.toSet ++ nextManifest.prev.values.toSet
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      val dead = (st.isDirectory && !live.contains(name)) ||
        (!st.isDirectory && name.startsWith("_manifest.tmp-"))
      if (dead && name != "_manifest") { fs.delete(st.getPath, true): Unit }
    }
  }
}

object HashStore {
  /** `_mode` of a pass row: what its key's winner does. */
  private[graft] val DropRow = 0
  private[graft] val ForwardRow = 1
  private[graft] val SyncRow = 2

  private val PassColumns =
    Seq("target_path", "doc_id", "doc_hash", "doc_json", "_mode", "_src", "bucket")
  private val StagedBucket = "bucket=(\\d+)".r

  /** One task of a [[HashStore.pass]] over its sorted [[PassColumns]]
    * rows, bucket by bucket. Each (target_path, doc_id) run is decided
    * by its first row (the batch winner, or the stored row when the
    * batch has none) against the run's stored hash. A document to write
    * goes to the task's [[DocumentSink.Committer]], flushed after the
    * last bucket (dropped without a sink). Every key's stored or new
    * hash is kept for the current bucket only; the bucket's rows are
    * yielded when its last key is decided and one of its keys changed. */
  private[graft] def walk(mkSink: Option[() => DocumentSink])(in: Iterator[Row]): Iterator[Row] = {
    val rows = in.buffered
    val out = mkSink.map(new DocumentSink.Committer(_))
    def nextBucket(): Seq[Row] = {
      val bucket = rows.head.getInt(6)
      val kept = scala.collection.mutable.ArrayBuffer.empty[Row]
      var changed = false
      while (rows.hasNext && rows.head.getInt(6) == bucket) {
        val first = rows.next()
        val (tp, id, h) = (first.getString(0), first.getString(1), first.getString(2))
        val fromBatch = first.getInt(5) == 0
        var stored = if (fromBatch) null else h
        while (rows.hasNext && rows.head.getString(0) == tp && rows.head.getString(1) == id) {
          val r = rows.next()
          if (r.getInt(5) == 1) stored = r.getString(2)
        }
        val mode = if (fromBatch) first.getInt(4) else DropRow
        val syncChange = mode == SyncRow && h != stored
        changed ||= syncChange
        val hash = if (syncChange) h else stored
        if (hash != null) kept += Row(tp, id, hash, bucket)
        if (syncChange || mode == ForwardRow)
          out.foreach(_.write(DocumentSink.Doc(tp, id, first.getString(3))))
      }
      if (changed) kept.toSeq else Nil
    }
    Iterator.continually(rows).takeWhile(_.hasNext).flatMap(_ => nextBucket()) ++
      { out.foreach(_.flush()); Iterator.empty[Row] }
  }
}

/** One running job = one StreamingQuery serving N subscriptions
  * (SURVEY §1: Job ⇄ query; reference: one consumer × N subscriptions,
  * first match wins).
  *
  * The query runs with `Trigger.ProcessingTime(0)`: a backlog drains
  * back-to-back, one micro-batch after the other, and an idle source is
  * polled once a second (the session's `spark.sql.streaming.pollingDelay`,
  * see [[graft.Tuning.engineDefaults]]), where the reference sleeps 0.5 s
  * on every cycle. [[start]] refuses a stream whose session polls more
  * often than once a second. */
final class StreamingJob(
    spark: SparkSession,
    subs: Seq[Subscription],
    tenant: String,
    mkSink: () => DocumentSink,
    hashStorePath: String,
    checkpoint: String,
    /** Source-order column (e.g. the Kafka offset) so the LAST message
      * for a document wins within a micro-batch; without it the
      * deterministic max-hash tie-break applies. */
    orderCol: Option[String] = None,
    /** Per-micro-batch pre-stage, re-evaluated every batch — the hook
      * a [[Pipeline.SchemaAwareDecoder]] plugs into so a schema change
      * re-plans the decode projection mid-stream instead of freezing
      * the projection at start time. */
    preBatch: Option[DataFrame => DataFrame] = None) {

  val hashStore = new HashStore(spark, hashStorePath)

  /** Start the pipeline over any streaming DataFrame honoring the
    * input contract (kafka stream, file stream, or MemoryStream).
    * `queryName` (optional) names the StreamingQuery so listeners can
    * attribute lifecycle events that fire before the query handle is
    * registered (the registry's consumer-group-style name,
    * artifacts.py:226). */
  def start(stream: DataFrame, queryName: Option[String] = None): StreamingQuery = {
    // the query reads its idle poll interval from its stream's session
    val pollMs = stream.sparkSession.sessionState.conf.streamingPollingDelay
    require(pollMs >= 1000L, s"spark.sql.streaming.pollingDelay is $pollMs ms on " +
      "the stream's session, so an idle source would be polled every " +
      s"$pollMs ms; build the session with graft.Tuning.engineDefaults (1 s)")
    val base = stream.writeStream
    queryName.foreach(n => base.queryName(n))
    base
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val inBatch = preBatch.map(_(batch)).getOrElse(batch)
        Pipeline.batchPass(Pipeline.compileMulti(subs, tenant, inBatch, orderCol.toSeq),
          subs, orderCol, hashStore, mkSink)
      }
      .start()
  }
}
