package graft.sinks

import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** The CowTable catalog's REAL DataSource-V2 batch write (round 17,
  * VERDICT r16 task 1).
  *
  * Why not the V1 fallback: `AppendDataExecV1` executes the write's
  * ANALYZED query — the plan `DistributionAndOrderingUtils.prepareQuery`
  * prepared (with the `RequiresDistributionAndOrdering` clustering
  * shuffle) is discarded on the V1 path, so a plain `INSERT INTO` never
  * clustered and wrote tasks × values files. The V2 exec runs the
  * PREPARED plan: rows arrive clustered by the table's partition
  * transforms (and sorted within tasks), each transform value lands in
  * one task, and the task writers below produce ONE file per partition
  * value — the file-constant / co-bucketed layout every manifest
  * pushdown (exact filter, GROUP BY aggregates, SUM lines, SPJ,
  * const-index pruning) fires on.
  *
  * Layout parity with [[CowTable]]'s own writer: files land under
  * `<table>/data/<stamp>/<p_name>=<escaped-value>/…`, where the value
  * string is [[PartitionTransform.exprOf]] cast to string (the SAME
  * expression the directory pruners evaluate on literals) escaped by
  * Spark's own `ExternalCatalogUtils.escapePathName`; the synthetic
  * transform columns exist only in directory names, never in file
  * content. Commit goes through the manifest machinery
  * ([[CowTable.commitWritten]]): fresh C/R/B sidecar lines for the
  * written files, append-rebase or overwrite semantics, optimistic
  * retry — identical guarantees to the Scala-API write paths.
  */
/** How a [[CowBatchWrite]] commit replaces existing data. */
sealed trait CowWriteMode
object CowWriteMode {
  /** INSERT INTO — append, rebase on race. */
  case object Append extends CowWriteMode
  /** INSERT OVERWRITE (static mode, no surviving filters) — replace
    * the whole table, carry the spec lines.
    */
  case object Truncate extends CowWriteMode
  /** INSERT OVERWRITE under partitionOverwriteMode=dynamic — replace
    * exactly the partitions the written files landed in.
    */
  case object Dynamic extends CowWriteMode
  /** INSERT OVERWRITE … PARTITION (col=v, …) — replace the partitions
    * selected by the static equality filters.
    */
  final case class Filtered(eqs: Seq[(String, Any)]) extends CowWriteMode
}

class CowBatchWrite(spark: SparkSession, path: String, writeSchema: StructType,
                    mode: CowWriteMode) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val spec = CowTable.partitionSpec(path)
    val stampDir = s"$path/data/${CowTable.freshName()}"
    // one parquet write config, prepared exactly as Spark's own parquet
    // sink prepares it (codec, schema, timestamp mode, committer conf)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val owf = ParquetUtils.prepareWrite(spark.sessionState.conf, job, writeSchema,
      new ParquetOptions(Map.empty[String, String], spark.sessionState.conf))
    new CowDataWriterFactory(stampDir, writeSchema.json,
      spec.map(_.name).toArray, CowBatchWrite.boundPartExprs(spark, writeSchema, spec),
      owf, new SerializableConfiguration(job.getConfiguration))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    CowTable.commitWritten(spark, path,
      messages.toSeq.flatMap(_.asInstanceOf[CowCommitMessage].files), mode)
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.toSeq.filter(_ != null).flatMap(_.asInstanceOf[CowCommitMessage].files)
      .foreach(f => scala.util.Try(
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f))))

  override def toString: String = s"CowBatchWrite[$path, $mode]"
}

object CowBatchWrite {
  /** The partition-transform value expressions, RESOLVED through the
    * real analyzer (so time-zone-aware casts carry their session zone)
    * and BOUND to the write schema's row layout — evaluable on
    * executors with no analysis machinery. One per transform, each
    * producing the directory-value STRING (pre-escaping).
    */
  private[sinks] def boundPartExprs(spark: SparkSession, schema: StructType,
                                    spec: Seq[PartitionTransform]): Array[Expression] = {
    if (spec.isEmpty) return Array.empty
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val analyzed = empty.select(spec.map(t =>
      t.exprOf(col(t.src), schema(t.src).dataType).cast(StringType)): _*)
      .queryExecution.analyzed
    // RuntimeReplaceable expressions (to_date, …) only evaluate after
    // the optimizer rewrites them — apply that one rule here (the full
    // optimizer would fold the empty relation away instead)
    val replaced = org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions(analyzed)
      .asInstanceOf[Project]
    val childOut = replaced.child.output
    replaced.projectList.map(e =>
      BindReferences.bindReference[Expression](e, childOut)).toArray
  }
}

case class CowCommitMessage(files: Seq[String]) extends WriterCommitMessage

/** STREAMING write face (round 17): `df.writeStream.toTable("cow.ns.t")`.
  *
  * Each micro-batch runs the same task-side parquet writers as the
  * batch face (clustered by the declared distribution — Spark applies
  * `RequiresDistributionAndOrdering` to streaming writes too), under a
  * per-epoch staging prefix; `commit(epochId, …)` lands the epoch's
  * files through the manifest machinery stamped with an
  * `(appId = cowstream-<queryId>, epochId)` txn watermark. The
  * watermark is what makes restart semantics EXACTLY-ONCE: Spark
  * replays the last uncommitted batchId after a crash, and a replayed
  * epoch (watermark already at/past it) deletes its just-written
  * orphans instead of re-landing rows — the same foreachBatch contract
  * [[Sinks.appendStream]] documents, now native to the DSv2 face.
  * Append mode only: Complete/Update rewrite history per epoch, which
  * is [[CowTable.overwrite]]'s job at the API level, not a live
  * table's.
  */
class CowStreamingWrite(spark: SparkSession, path: String, writeSchema: StructType,
                        queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    val spec = CowTable.partitionSpec(path)
    val stampDir = s"$path/data/${CowTable.freshName()}"
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val owf = ParquetUtils.prepareWrite(spark.sessionState.conf, job, writeSchema,
      new ParquetOptions(Map.empty[String, String], spark.sessionState.conf))
    val inner = new CowDataWriterFactory(stampDir, writeSchema.json,
      spec.map(_.name).toArray, CowBatchWrite.boundPartExprs(spark, writeSchema, spec),
      owf, new SerializableConfiguration(job.getConfiguration))
    new CowStreamingWriterFactory(inner)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.toSeq.filter(_ != null)
      .flatMap(_.asInstanceOf[CowCommitMessage].files)
    CowTable.commitWrittenFiles(spark, path, files, overwrite = false,
      txn = Some((s"cowstream-$queryId", epochId)))
    ()
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.toSeq.filter(_ != null).flatMap(_.asInstanceOf[CowCommitMessage].files)
      .foreach(f => scala.util.Try(
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f))))

  override def toString: String = s"CowStreamingWrite[$path, query=$queryId]"
}

/** Per-epoch adapter: epoch files nest under `epoch-<id>/` so replayed
  * epochs can never collide with their first attempt's names.
  */
class CowStreamingWriterFactory(inner: CowDataWriterFactory)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    inner.createWriterIn(s"/epoch-$epochId", partitionId, taskId)
}

class CowDataWriterFactory(stampDir: String, schemaJson: String,
                           partNames: Array[String], partExprs: Array[Expression],
                           owf: OutputWriterFactory,
                           conf: SerializableConfiguration) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    createWriterIn("", partitionId, taskId)

  /** Writer rooted under `stampDir + sub` (streaming epochs nest). */
  private[sinks] def createWriterIn(sub: String, partitionId: Int,
                                    taskId: Long): DataWriter[InternalRow] =
    new CowDataWriter(stampDir + sub, schemaJson, partNames, partExprs, owf, conf,
      partitionId, taskId)
}

/** One task's writer: routes each row to the parquet writer of its
  * partition-directory key. The write requested ordering on the
  * transform values, so values usually arrive contiguously and one
  * writer is open at a time; interleaved arrivals (AQE rebalance
  * splits, unsorted fallback) just keep more writers open — never
  * wrong, bounded by the task's distinct transform values.
  */
class CowDataWriter(stampDir: String, schemaJson: String,
                    partNames: Array[String], partExprs: Array[Expression],
                    owf: OutputWriterFactory, conf: SerializableConfiguration,
                    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {
  private val schema =
    org.apache.spark.sql.types.DataType.fromJson(schemaJson).asInstanceOf[StructType]
  private lazy val proj: UnsafeProjection =
    UnsafeProjection.create(partExprs.toIndexedSeq)
  private val writers = scala.collection.mutable.LinkedHashMap
    .empty[String, org.apache.spark.sql.execution.datasources.OutputWriter]
  private val files = scala.collection.mutable.ArrayBuffer.empty[String]
  private var seq = 0

  private def ctx = new TaskAttemptContextImpl(conf.value, new TaskAttemptID())

  private def dirOf(row: InternalRow): String = {
    if (partExprs.isEmpty) return ""
    val vals = proj(row)
    val sb = new StringBuilder
    var i = 0
    while (i < partNames.length) {
      val v =
        if (vals.isNullAt(i)) "__HIVE_DEFAULT_PARTITION__"
        else ExternalCatalogUtils.escapePathName(vals.getUTF8String(i).toString)
      sb.append('/').append(partNames(i)).append('=').append(v)
      i += 1
    }
    sb.toString
  }

  override def write(row: InternalRow): Unit = {
    val dir = dirOf(row)
    val w = writers.getOrElseUpdate(dir, {
      val c = ctx
      val name = f"part-$partitionId%05d-$taskId-$seq${owf.getFileExtension(c)}"
      seq += 1
      val file = s"$stampDir$dir/$name"
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(file).getParent)
      files += file
      owf.newInstance(file, schema, c)
    })
    w.write(row)
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_.close())
    writers.clear()
    CowCommitMessage(files.toSeq)
  }

  override def abort(): Unit = {
    writers.values.foreach(w => scala.util.Try(w.close()))
    writers.clear()
    files.foreach(f => scala.util.Try(
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f))))
  }

  override def close(): Unit = {
    writers.values.foreach(w => scala.util.Try(w.close()))
    writers.clear()
  }
}
