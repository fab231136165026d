package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.{streaming => ss}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sinks.{CowInputPartition, CowReaderFactory, CowTable}

/** STREAMING READ THROUGH THE CATALOG (round 16, VERDICT r15 task 3):
  * the DSv2 micro-batch face over the same snapshot-version offset
  * machinery as the path-based V1 [[CowCdcSource]].
  *
  * Two faces, because the two stream shapes have different schemas:
  *
  * {{{
  * // CDC rows (full V1 cow-cdc parity: initial snapshot as inserts,
  * // then per-commit row-level changes; options startingVersion /
  * // maxVersionsPerBatch / key as in the V1 source):
  * spark.readStream.option("key", "id").table("cow.ns.`t$changes`")
  *
  * // the table's OWN rows, append-only (the Delta convention): the
  * // initial snapshot, then each window's appended files' rows; a
  * // window containing a rewrite / delete fails LOUDLY naming the
  * // $changes face (silently dropping updates would be a wrong mirror)
  * spark.readStream.table("cow.ns.t")
  * }}}
  *
  * OFFSETS ARE SNAPSHOT VERSIONS (−1 = initial snapshot pending), the
  * same replay-deterministic contract as the V1 source: a micro-batch
  * (from, to] is a pure function of the two manifests, so a restart
  * replans the identical batch.
  *
  * PARTITION DECOMPOSITION differs by face. The APPEND face is natively
  * per-file: the window's added files become [[CowInputPartition]]s
  * read by the same vectorized [[CowReaderFactory]] the batch scan
  * uses. The CDC face is a DataFrame-shaped JOIN (preimage/postimage
  * classification over manifest diffs) that has no row-level reader
  * decomposition — the V1 source returns the DataFrame directly; DSv2
  * readers cannot. The bridge: [[planInputPartitions]] executes the
  * batch as a normal distributed job WRITING the result to a staging
  * directory under the query's checkpoint, and the partitions are the
  * staged files (readers stream them back; `_SUCCESS`-gated so a
  * replayed batch reuses a complete stage and rewrites a torn one;
  * committed stages are vacuumed). Cost: the CDC rows are written once
  * extra — bounded by the WINDOW's change volume, never the table.
  */
object CowCatalogStream {
  /** `ident.name` suffix selecting the CDC face. */
  val ChangesSuffix = "$changes"

  private[graft] def intOpt(o: CaseInsensitiveStringMap, k: String): Option[Int] =
    Option(o.get(k)).filterNot(_ == "initial").map(_.toInt)

  private[graft] def maxVersions(o: CaseInsensitiveStringMap): Long = {
    val m = Option(o.get("maxVersionsPerBatch")).map(_.toLong).getOrElse(Long.MaxValue)
    require(m > 0, "maxVersionsPerBatch must be positive")
    m
  }

  /** The CDC face's schema: declared columns (all nullable — a delete
    * preimage carries nulls for post-evolution columns) + the two CDC
    * metadata columns. Key-independent, so the table can report it
    * before read options exist.
    */
  def changesSchema(spark: SparkSession, path: String): StructType =
    StructType(CowTable.read(spark, path).schema.fields
      .map(f => StructField(f.name, f.dataType, nullable = true)).toIndexedSeq :+
      StructField("_change_type", StringType, nullable = true) :+
      StructField("_commit_version", IntegerType, nullable = true))
}

/** Snapshot-version stream offset; −1 = initial snapshot pending. */
case class CowVOffset(v: Long) extends ss.Offset {
  override def json(): String = v.toString
}

/** Shared admission logic: latestOffset mirrors the V1 source's
  * `getOffset` (base-anchored `maxVersionsPerBatch` cap, monotone).
  *
  * `Trigger.AvailableNow` (round 18, VERDICT r17 task 4) is NATIVE
  * here rather than via Spark's wrapper: the wrapper captures one
  * target offset and hands it back for every `latestOffset(start,
  * limit)` call, which would drain the whole backlog in ONE batch —
  * silently bypassing `maxVersionsPerBatch`/`maxRowsPerBatch`. The
  * native fence instead pins only the admission TARGET at the trigger-
  * start table version; each batch still admits through the caps, so
  * an AvailableNow run processes everything available at start in as
  * many capped batches as the limits dictate, then stops. Versions
  * committed AFTER the trigger started are left for the next run.
  */
private[sources] trait CowVersionedStream extends ss.MicroBatchStream
    with ss.SupportsTriggerAvailableNow {
  protected def path: String
  protected def startingVersion: Option[Int]
  protected def maxVers: Long

  /** Newest version planned or committed — bounds admission, never
    * correctness (same rationale as the V1 source's base).
    */
  @volatile protected var base: Long = startingVersion.map(_.toLong).getOrElse(-1L)

  /** The AvailableNow target fence — None under ordinary triggers. */
  @volatile protected var availableNowFence: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowFence = Some(CowTable.currentVersion(path).toLong)

  override def initialOffset(): ss.Offset =
    CowVOffset(startingVersion.map(_.toLong).getOrElse(-1L))
  override def latestOffset(): ss.Offset = {
    val cur0 = CowTable.currentVersion(path).toLong
    val cur = availableNowFence.fold(cur0)(math.min(cur0, _))
    val cap = base + maxVers // saturating: unlimited default must not wrap
    val anchored = if (base < 0 || cap < base) cur else math.min(cur, cap)
    CowVOffset(math.max(anchored, base))
  }

  /** Capped admission for sources with no finer-grained control: the
    * version-capped (and AvailableNow-fenced) target. The append
    * stream overrides this with row-budget admission.
    */
  override def latestOffset(start: ss.Offset, limit: ss.ReadLimit): ss.Offset =
    latestOffset()
  override def deserializeOffset(json: String): ss.Offset =
    CowVOffset(json.trim.toLong)
  override def commit(end: ss.Offset): Unit =
    base = math.max(base, end.asInstanceOf[CowVOffset].v)
  override def stop(): Unit = ()
}

// ---------------------------------------------------------------------------
// CDC face: cow.ns.`t$changes`
// ---------------------------------------------------------------------------

/** The `$changes` sub-table the catalog serves for streaming CDC. */
class CowChangesTable(val path: String, ident: String) extends Table with SupportsRead {
  override def name(): String = ident
  override lazy val schema: StructType =
    CowCatalogStream.changesSchema(SparkSession.active, path)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new CowChangesScan(SparkSession.active, path, schema, options)
}

class CowChangesScan(spark: SparkSession, path: String, val cdcSchema: StructType,
                     options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = cdcSchema
  override def description(): String = s"CowChangesScan[$path]"
  override def toMicroBatchStream(checkpointLocation: String): ss.MicroBatchStream = {
    val key = Option(options.get("key")).getOrElse(throw new IllegalArgumentException(
      s"streaming $path$$changes requires option 'key' (the CDC classification key)"))
    require(cdcSchema.fieldNames.contains(key),
      s"key '$key' not in table schema")
    new CowChangesMicroBatchStream(spark, path, key, cdcSchema,
      CowCatalogStream.intOpt(options, "startingVersion"),
      CowCatalogStream.maxVersions(options), checkpointLocation)
  }
}

class CowChangesMicroBatchStream(spark: SparkSession, val path: String,
                                 key: String, cdcSchema: StructType,
                                 val startingVersion: Option[Int],
                                 val maxVers: Long, checkpointLocation: String)
    extends CowVersionedStream {

  private def stageRoot = {
    val base = if (checkpointLocation.startsWith("file:"))
      checkpointLocation.stripPrefix("file:") else checkpointLocation
    java.nio.file.Paths.get(base, "graft-cdc-stage")
  }
  private def stageDir(sv: Long, ev: Long) = stageRoot.resolve(s"b_${sv}_$ev")

  /** The window's CDC rows — the V1 source's `getBatch` verbatim:
    * initial snapshot as inserts when no start, else the manifest-diff
    * change feed, conformed to the declared CDC schema.
    */
  private def batchDf(sv: Long, ev: Long): DataFrame = {
    val raw =
      if (sv < 0)
        CowTable.read(spark, path, Some(ev.toInt))
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(ev.toInt))
      else if (ev <= sv)
        CowTable.read(spark, path, Some(math.max(ev, 1L).toInt)).limit(0)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(ev.toInt))
      else CowTable.changes(spark, path, key, sv.toInt, ev.toInt)
    raw.select(cdcSchema.fields.toIndexedSeq.map { f =>
      (if (raw.columns.contains(f.name)) col(f.name).cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)
    }: _*)
  }

  override def planInputPartitions(start: ss.Offset, end: ss.Offset): Array[InputPartition] = {
    val sv = start.asInstanceOf[CowVOffset].v
    val ev = end.asInstanceOf[CowVOffset].v
    base = math.max(base, ev)
    val dir = stageDir(sv, ev)
    // replay-deterministic staging: a complete stage (_SUCCESS) is
    // reused verbatim on restart; a torn one is rewritten from the
    // same two manifests
    if (!java.nio.file.Files.exists(dir.resolve("_SUCCESS")))
      batchDf(sv, ev).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir.toString)
    val files = scala.util.Using.resource(java.nio.file.Files.list(dir)) { st =>
      st.iterator().asScala.map(_.toString)
        .filter(f => f.endsWith(".parquet") && !f.contains("_SUCCESS")).toArray
    }
    files.map(f => CowInputPartition(Array(f), None): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CowReaderFactory(cdcSchema.json, cdcSchema.json,
      Array.fill(cdcSchema.fields.length)(1), Map.empty, None)

  /** Commit also vacuums staged batches at or before the committed
    * offset — a committed batch is never replayed. Best-effort: a
    * failed delete costs disk, not correctness.
    */
  override def commit(end: ss.Offset): Unit = {
    super.commit(end)
    val v = end.asInstanceOf[CowVOffset].v
    if (java.nio.file.Files.isDirectory(stageRoot)) {
      val done = scala.util.Using.resource(java.nio.file.Files.list(stageRoot)) { st =>
        st.iterator().asScala.filter { d =>
          d.getFileName.toString.split('_') match {
            case Array("b", _, e) => scala.util.Try(e.toLong <= v).getOrElse(false)
            case _ => false
          }
        }.toVector
      }
      done.foreach(d => scala.util.Try(graft.sinks.CowCatalog.deleteTree(d)))
    }
  }

  override def toString: String = s"CowChangesMicroBatchStream[$path, key=$key]"
}

// ---------------------------------------------------------------------------
// Append face: cow.ns.t (the table's own rows)
// ---------------------------------------------------------------------------

/** Append-only row stream over the plain catalog table: batch (s, e] =
  * rows of files ADDED in the window. A window that removes a file or
  * changes the delete-sidecar set is NOT append-only — rewinds, merges,
  * deletes, compactions — and fails loudly naming the `$changes` face
  * (emitting only the inserts of a rewrite window would silently build
  * a wrong mirror downstream). The initial snapshot batch reads through
  * the FULL batch machinery (MoR sidecars, rename lineage) at the
  * anchor version.
  */
class CowAppendMicroBatchStream(spark: SparkSession, val path: String,
                                required: StructType, fullSchema: StructType,
                                val startingVersion: Option[Int],
                                val maxVers: Long,
                                maxRows: Option[Long] = None)
    extends CowVersionedStream with ss.SupportsAdmissionControl {

  /** ADMISSION BY ROWS (round 16): `maxRowsPerBatch` caps how many
    * ADDED rows one micro-batch may span, measured exactly from the
    * manifest `R` row-count lines — whole table versions are admitted
    * until the next one would overflow the budget (always at least
    * one, so a single oversized commit still drains). Under a row cap
    * the initial snapshot anchors at the OLDEST AVAILABLE version
    * (snapshot there + incremental windows forward ≡ the full snapshot
    * for append-only history, and each window honors the budget; an
    * uncapped stream keeps the anchor-at-current convention). A file
    * missing its row count admits conservatively as budget-exhausting.
    * The version-based `maxVersionsPerBatch` cap composes: rows bound
    * within the version-capped target.
    */
  override def getDefaultReadLimit(): ss.ReadLimit =
    maxRows.map(ss.ReadLimit.maxRows).getOrElse(ss.ReadLimit.allAvailable())

  /** The row cap inside `limit`, unwrapping `CompositeReadLimit`
    * (Spark composes limits under some triggers — falling through to
    * "admit everything" would silently bypass the user's
    * maxRowsPerBatch; ADVICE r16).
    */
  private def rowCapOf(limit: ss.ReadLimit): Option[ss.ReadMaxRows] = limit match {
    case mr: ss.ReadMaxRows => Some(mr)
    case c: ss.CompositeReadLimit =>
      c.getReadLimits.toSeq.flatMap(l => rowCapOf(l)).headOption
    case _ => None
  }

  /** The capped stream's initial-snapshot anchor: the earliest retained
    * version ADVANCED past the newest rewrite boundary (a window whose
    * file set shrank or whose delete sidecars changed is not
    * append-only — replaying it would throw; ADVICE r16 medium). The
    * snapshot at the anchor plus append-only windows forward is exactly
    * the table's rows, and every replayed window honors the row budget;
    * only the one snapshot batch may exceed it (same acceptance as the
    * uncapped path's anchor-at-current first batch). An explicit
    * startingVersion pins the anchor — skipping past a rewrite the user
    * asked to replay stays a loud failure, never silent.
    */
  private def cappedAnchor(target: Long): Long = {
    val earliest = CowTable.earliestVersion(path).toLong
    var anchor = earliest
    var v = earliest
    var files = CowTable.snapshotFiles(path, Some(v.toInt)).toSet
    var dels = (CowTable.snapshotDeletes(path, Some(v.toInt)).toSet,
      CowTable.snapshotPositionDeletes(path, Some(v.toInt)).toSet)
    while (v < target) {
      v += 1
      val nf = CowTable.snapshotFiles(path, Some(v.toInt)).toSet
      val nd = (CowTable.snapshotDeletes(path, Some(v.toInt)).toSet,
        CowTable.snapshotPositionDeletes(path, Some(v.toInt)).toSet)
      if ((files -- nf).nonEmpty || dels != nd) anchor = v
      files = nf
      dels = nd
    }
    anchor
  }

  override def latestOffset(start: ss.Offset, limit: ss.ReadLimit): ss.Offset = {
    val target = latestOffset().asInstanceOf[CowVOffset]
    val sv = start.asInstanceOf[CowVOffset].v
    rowCapOf(limit) match {
      case Some(_) if sv < 0 && target.v > 0 =>
        val anchor = startingVersion match {
          case Some(s) => math.max(CowTable.earliestVersion(path).toLong, s.toLong)
          case None    => cappedAnchor(target.v)
        }
        base = math.max(base, anchor)
        CowVOffset(anchor)
      case Some(mr) if sv >= 0 && target.v > sv =>
        var acc = 0L
        var v = sv
        var prev = CowTable.snapshotFiles(path, Some(sv.toInt)).toSet
        var stop = false
        while (!stop && v < target.v) {
          val nextFiles = CowTable.snapshotFiles(path, Some((v + 1).toInt))
          val counts = CowTable.fileRowCounts(path, Some((v + 1).toInt))
          val rows = nextFiles.filterNot(prev.contains)
            .map(f => counts.getOrElse(f, Long.MaxValue / 4)).sum
          if (acc > 0L && acc + rows > mr.maxRows()) stop = true
          else {
            acc += rows
            prev = nextFiles.toSet
            v += 1
            if (acc >= mr.maxRows()) stop = true
          }
        }
        base = math.max(base, v)
        CowVOffset(v)
      case _ => target
    }
  }

  /** Per-batch reader context, set by [[planInputPartitions]] and read
    * by [[createReaderFactory]] in the same trigger (the engine calls
    * them sequentially on the driver for each batch).
    */
  @volatile private var factoryForBatch: PartitionReaderFactory = _

  private def lineageGroups(asOf: Option[Int]): (Array[Int], StructType) = {
    val lineage: Map[String, Seq[String]] =
      CowTable.declaredSchema(path, asOf).map(_.fields.collect {
        case f if f.metadata.contains("was") =>
          f.name -> f.metadata.getStringArray("was").toSeq
      }.toMap).getOrElse(Map.empty)
    val groups = required.fields.map(f =>
      1 + lineage.getOrElse(f.name, Seq.empty).length)
    val readFields = required.fields.flatMap(f =>
      (f.name +: lineage.getOrElse(f.name, Seq.empty)).map(n =>
        StructField(n, f.dataType, nullable = true)))
    (groups, StructType(readFields))
  }

  override def planInputPartitions(start: ss.Offset, end: ss.Offset): Array[InputPartition] = {
    val sv = start.asInstanceOf[CowVOffset].v
    val ev = end.asInstanceOf[CowVOffset].v
    base = math.max(base, ev)
    if (ev <= sv && sv >= 0) { factoryForBatch = emptyFactory(); return Array.empty }
    val evi = Some(ev.toInt)
    if (sv < 0) {
      // initial snapshot at the anchor version: the batch scan's own
      // partitions + reader (sidecars and lineage honored)
      val scan = new graft.sinks.CowScan(spark, path, evi,
        required, fullSchema, CowTable.snapshotFiles(path, evi))
      factoryForBatch = scan.createReaderFactory()
      scan.planInputPartitions()
    } else {
      val svi = Some(sv.toInt)
      val before = CowTable.snapshotFiles(path, svi)
      val after = CowTable.snapshotFiles(path, evi)
      val removed = before.toSet -- after.toSet
      val delChanged =
        CowTable.snapshotDeletes(path, svi).toSet !=
          CowTable.snapshotDeletes(path, evi).toSet ||
        CowTable.snapshotPositionDeletes(path, svi).toSet !=
          CowTable.snapshotPositionDeletes(path, evi).toSet
      if (removed.nonEmpty || delChanged)
        throw new UnsupportedOperationException(
          s"stream window v$sv->v$ev on $path is not append-only " +
            s"(${removed.size} files rewritten/removed" +
            (if (delChanged) ", delete sidecars changed" else "") +
            "); stream the CDC face instead: " +
            s"spark.readStream.option(\"key\", ...).table(\"...`<name>$$changes`\")")
      val added = after.filterNot(before.toSet)
      val (groups, readSchema) = lineageGroups(evi)
      factoryForBatch = new CowReaderFactory(required.json, readSchema.json,
        groups, Map.empty, None)
      added.map(f => CowInputPartition(Array(f), None): InputPartition).toArray
    }
  }

  private def emptyFactory(): PartitionReaderFactory =
    new CowReaderFactory(required.json, required.json,
      Array.fill(required.fields.length)(1), Map.empty, None)

  override def createReaderFactory(): PartitionReaderFactory = {
    val f = factoryForBatch
    require(f != null, "createReaderFactory before planInputPartitions")
    f
  }

  override def toString: String = s"CowAppendMicroBatchStream[$path]"
}
