package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{EqualTo, Filter, IsNotNull}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector over the Firestore-style document store
  * that `JsonFileSink` writes — the read path the reference exposes as
  * `read_cfs` (firebase/app/helpers.py:106-110: one document with a doc
  * id, the whole collection without), as a REAL Spark table instead of
  * a single-process helper. It reads through the sink's own layout
  * ([[JsonFileSink$]]), so a row's collection and doc id are the
  * strings that were written:
  *
  *   spark.read.format("graft-cfs").option("root", dir).load()
  *     → (collection STRING, doc_id STRING, json STRING)
  *
  * Scale design — the three things a 100 TB document store needs
  * from its scan:
  *   - **Partition planning**: the driver touches METADATA only (the
  *     directory tree); one InputPartition per collection, so a
  *     million-collection store fans out across executors and no
  *     document body ever funnels through the driver.
  *   - **Filter pushdown** (`SupportsPushDownFilters`): equality on
  *     `collection` prunes whole directories at plan time (the scan
  *     never lists them); equality on `doc_id` prunes to a single
  *     file stat inside each surviving collection. Pushed filters
  *     are FULLY handled here (no residual re-evaluation).
  *   - **Column pruning** (`SupportsPushDownRequiredColumns`): when
  *     `json` is not required the reader never opens file contents —
  *     a doc-id listing of a huge store reads zero bytes of data.
  *     `CfsDataSource.contentReads` counts actual content reads so
  *     tests assert the pruning instead of trusting it.
  */
final class CfsDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-cfs"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CfsDataSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CfsTable(properties.get("root"))
  override def supportsExternalMetadata(): Boolean = false
}

object CfsDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("collection", StringType, nullable = false),
    StructField("doc_id", StringType, nullable = false),
    StructField("json", StringType, nullable = false)))

  /** Count of document bodies actually read (test observability for
    * column pruning); meaningful in local mode only. */
  val contentReads = new AtomicLong(0)
}

final class CfsTable(root: String) extends Table with SupportsRead with SupportsWrite {
  require(root != null, "graft-cfs requires .option(\"root\", <dir>)")
  override def name(): String = s"graft-cfs:$root"
  override def schema(): StructType = CfsDataSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CfsScanBuilder(root)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val in = info.schema()
    require(Seq("collection", "doc_id", "json").forall(in.fieldNames.contains),
      s"graft-cfs write needs (collection, doc_id, json) columns, got ${in.fieldNames.mkString(",")}")
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new CfsBatchWrite(root, in)
        override def toStreaming: StreamingWrite =
          new CfsStreamingWrite(root, in)
      }
    }
  }
}

/** Executor-side document upserts through the same `JsonFileSink`
  * the streaming pipeline uses: every task writes its partition in
  * maxSubmit-sized batches ([[DocumentSink.Committer]]), idempotent by
  * (collection, doc_id) — which is exactly why commit/abort are no-ops: a replayed task
  * re-upserts the same keys (effectively-once, like the streaming
  * path's checkpoint + idempotent-sink contract). */
final class CfsBatchWrite(root: String, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new CfsWriterFactory(root,
      schema.fieldIndex("collection"), schema.fieldIndex("doc_id"), schema.fieldIndex("json"))
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/** Streaming flavor of the same write: the idempotent (collection,
  * doc_id) upsert makes epoch replays converge, so the connector
  * delivers effectively-once under checkpoint recovery with no epoch
  * bookkeeping of its own — identical to the `foreachBatch` pipeline
  * sink's contract (`streaming/Pipeline`). */
final class CfsStreamingWrite(root: String, schema: StructType)
    extends StreamingWrite {
  private val (ci, di, ji) =
    (schema.fieldIndex("collection"), schema.fieldIndex("doc_id"), schema.fieldIndex("json"))
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    // copy to locals: the factory ships to executors and must not
    // capture this (non-serializable) StreamingWrite
    val (r, c, d, j) = (root, ci, di, ji)
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long): DataWriter[InternalRow] =
        new CfsWriterFactory(r, c, d, j).createWriter(partitionId, taskId)
    }
  }
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

final class CfsWriterFactory(root: String, ci: Int, di: Int, ji: Int)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val out = new DocumentSink.Committer(() => new JsonFileSink(root))
      override def write(row: InternalRow): Unit =
        out.write(DocumentSink.Doc(row.getString(ci), row.getString(di), row.getString(ji)))
      override def commit(): WriterCommitMessage = { out.flush(); new WriterCommitMessage {} }
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

final class CfsScanBuilder(root: String)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var collectionEq: Option[String] = None
  private var docIdEq: Option[String] = None
  /** Two DIFFERENT pushed equalities on one column (collection = 'a'
    * AND collection = 'b') are a contradiction: the scan must return
    * empty. Keeping only the last value while reporting both filters
    * as handled would silently return 'b' rows. */
  private var contradiction: Boolean = false
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = CfsDataSource.Schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def accept(slot: Option[String], v: String): Option[String] = {
      if (slot.exists(_ != v)) contradiction = true
      slot.orElse(Some(v))
    }
    val (accepted, rejected) = filters.partition {
      case EqualTo("collection", v: String) =>
        collectionEq = accept(collectionEq, v); true
      case EqualTo("doc_id", v: String) =>
        docIdEq = accept(docIdEq, v); true
      case IsNotNull("collection" | "doc_id" | "json") => true // never null by construction
      case _ => false
    }
    pushed = accepted
    rejected // residual predicates Spark must still evaluate
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    if (contradiction) new CfsEmptyScan(required)
    else new CfsScan(root, collectionEq, docIdEq, required)
}

/** Scan for a provably-empty result (contradictory pushed equalities):
  * zero partitions, no IO. */
final class CfsEmptyScan(required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = "graft-cfs CONTRADICTION (empty)"
  override def planInputPartitions(): Array[InputPartition] = Array.empty
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        throw new IllegalStateException("empty scan has no partitions")
    }
}

final case class CfsInputPartition(dir: String, collection: String) extends InputPartition

final class CfsScan(root: String, collectionEq: Option[String],
    docIdEq: Option[String], required: StructType) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-cfs root=$root pushed=[collection=$collectionEq, doc_id=$docIdEq] " +
      s"columns=${required.fieldNames.mkString(",")}"

  /** Metadata-only planning: walk the directory tree, emit one
    * partition per collection (a dir containing .json files). A
    * pushed collection equality resolves that one dir directly —
    * sibling collections are never even listed. */
  override def planInputPartitions(): Array[InputPartition] = {
    val dirs = collectionEq match {
      case Some(c) => JsonFileSink.collection(root, c).map(c -> _).toSeq
      case None => JsonFileSink.collections(root)
    }
    dirs.map { case (c, d) => CfsInputPartition(d.toString, c): InputPartition }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CfsReaderFactory(docIdEq, required.fieldNames)
}

final class CfsReaderFactory(docIdEq: Option[String], columns: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CfsInputPartition]
    new CfsPartitionReader(p, docIdEq, columns)
  }
}

final class CfsPartitionReader(p: CfsInputPartition, docIdEq: Option[String],
    columns: Array[String]) extends PartitionReader[InternalRow] {
  private val needJson = columns.contains("json")
  private val docs: Iterator[(String, Path)] = docIdEq match {
    case Some(id) => JsonFileSink.doc(Paths.get(p.dir), id).map(id -> _).iterator
    case None => JsonFileSink.docs(Paths.get(p.dir)).iterator
  }
  private var current: InternalRow = _

  override def next(): Boolean =
    if (!docs.hasNext) false
    else {
      val (docId, f) = docs.next()
      val values = columns.map {
        case "collection" => UTF8String.fromString(p.collection)
        case "doc_id"     => UTF8String.fromString(docId)
        case "json" =>
          CfsDataSource.contentReads.incrementAndGet()
          UTF8String.fromString(Files.readString(f))
      }
      current = InternalRow.fromSeq(values.toIndexedSeq)
      true
    }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
