package graft.sinks

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.{Expressions, Literal => V2Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, InsertableRelation, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** SQL CATALOG face for the CowTable format — a DataSource V2
  * `TableCatalog` (+ `FunctionCatalog` for storage-partitioned joins)
  * registering path-backed CowTables under a filesystem root:
  *
  * {{{
  * spark.conf: spark.sql.catalog.cow      = graft.sinks.CowCatalog
  *             spark.sql.catalog.cow.root = /warehouse
  * SELECT * FROM cow.ns.t                         -- read (pruned scan)
  * SELECT * FROM cow.ns.t VERSION AS OF 3         -- time travel
  * CREATE TABLE cow.ns.t2 (id BIGINT, v BIGINT)   -- + PARTITIONED BY (bucket(16, id))
  * INSERT INTO cow.ns.t2 SELECT ...               -- transactional append
  * INSERT OVERWRITE cow.ns.t2 SELECT ...          -- snapshot replace
  * MERGE INTO cow.ns.t USING s ON ...             -- CowTable.merge (GraftExtensions)
  * }}}
  *
  * Identifier `ns…。name` maps to directory `root/ns…/name`; namespaces
  * are directories. The catalog READ path is a genuine DSv2 scan over
  * the snapshot's own manifest — column pruning reaches the vectorized
  * parquet readers, filter pushdown reaches the MANIFEST (per-file
  * range stats + dict/bloom lookup sidecars prune which files are
  * opened — the same `prunedFilesIn`/`prunedFilesRange` gates the
  * incremental operators use), and MoR delete sidecars are honored
  * per-file (positional ranges skipped by row ordinal; key deletes
  * filtered with the driver-collected sidecar, which is bounded by the
  * compaction cadence).
  *
  * STORAGE-PARTITIONED JOINS (the last exchange a co-clustered star
  * join pays): a table whose partition spec is a single
  * `bucket(n, col)` reports `KeyGroupedPartitioning(bucket(n, col))`
  * with one input partition per bucket when `spark.graft.cowSpj=true`
  * — under `spark.sql.sources.v2.bucketing.enabled`, two co-bucketed
  * CowTables join with ZERO exchanges and a keyed aggregate needs no
  * shuffle. The `bucket` function resolves through this catalog's
  * `FunctionCatalog` face and computes EXACTLY the write layout's
  * assignment (`pmod(hash(cast(col as string)), n)` — one shared
  * definition, so plan-time matching and physical layout can never
  * disagree). Default OFF: per-bucket partitions cap scan parallelism
  * at n, the wrong trade for a scan-bound query (same honest gate as
  * `topkRewrite`/`bandJoin`).
  *
  * SCHEMA EVOLUTION (round 17 parity): the DSv2 read face serves the
  * full evolution battery — adds, renames (lineage-coalesced in the
  * reader), drops, and widens, including snapshots MIXING pre- and
  * post-widen files (each file reads independently at the declared
  * type; no footer-merge inference, which cannot merge a widen's
  * physical types). `schema` itself resolves from the manifest's
  * declared line — metadata-only, no file listing.
  *
  * LIMITS (loud, never silent): key-delete sidecars beyond 100k rows
  * fail the scan with a compaction hint rather than ship unbounded
  * state to every task — unless [[graft.plans.CowMorAntiJoinRule]] is
  * installed (GraftExtensions), which rewrites such scans into a
  * distributed anti-join with no bound.
  */
class CowCatalog extends TableCatalog with SupportsNamespaces with FunctionCatalog
    with StagingTableCatalog with ProcedureCatalog {
  private var catalogName: String = _
  private var root: String = _

  /** Table path for a procedure's dotted `'ns.t'` argument. */
  private[sinks] def tablePath(ref: String): String = {
    val parts = ref.split('.').toSeq
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"bad table reference '$ref' — expected 'ns.table'")
    (root +: parts).mkString("/")
  }

  // ---- ProcedureCatalog: SQL CALL maintenance (round 18) -----------------
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    CowProcedures.Names.map(Identifier.of(namespace, _)).toArray
  override def loadProcedure(ident: Identifier): UnboundProcedure =
    CowProcedures.load(this, ident)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires option 'root' (spark.sql.catalog.$name.root)"))
  }
  override def name(): String = catalogName

  private def dir(ident: Identifier): String =
    (root +: ident.namespace().toSeq :+ ident.name()).mkString("/")
  private def dir(ns: Seq[String]): String = (root +: ns).mkString("/")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = java.nio.file.Paths.get(dir(namespace.toSeq))
    if (!java.nio.file.Files.isDirectory(d)) throw new NoSuchNamespaceException(namespace)
    // a driver crash mid-CTAS strands its .stage-* dir (full data,
    // hidden from listings) — reclaim stale ones here and on stage()
    CowCatalog.sweepOrphanedStages(d)
    // Files.list streams hold a directory fd until closed — always
    // materialize inside Using.resource (ADVICE r14: repeated catalog
    // ops leaked descriptors)
    scala.util.Using.resource(java.nio.file.Files.list(d)) { st =>
      st.iterator().asScala
        // dot-prefixed dirs are staging areas (atomic CTAS/RTAS), not tables
        .filter(p => !p.getFileName.toString.startsWith(".") &&
          CowTable.exists(p.toString))
        .map(p => Identifier.of(namespace, p.getFileName.toString)).toArray
    }
  }

  override def tableExists(ident: Identifier): Boolean = CowTable.exists(dir(ident))

  /** `t$suffix` sub-table routing: the base identifier when `name`
    * carries `suffix` over an EXISTING base table, else None.
    */
  private def subTableBase(ident: Identifier, suffix: String): Option[Identifier] =
    if (ident.name().endsWith(suffix) && ident.name() != suffix) {
      val base = Identifier.of(ident.namespace(), ident.name().stripSuffix(suffix))
      if (!tableExists(base)) throw new NoSuchTableException(ident)
      Some(base)
    } else None

  override def loadTable(ident: Identifier): Table = {
    // `ns.t$changes` = the streaming CDC face of ns.t (round 16):
    // readStream-able row-level changes, schema = declared + CDC meta
    subTableBase(ident, graft.sources.CowCatalogStream.ChangesSuffix).foreach(b =>
      return new graft.sources.CowChangesTable(dir(b), ident.toString))
    // metadata-table faces (round 18): snapshot history and the
    // current snapshot's file inventory, Iceberg/Delta-style
    subTableBase(ident, CowMetaTable.HistorySuffix).foreach(b =>
      return new CowMetaTable(dir(b), ident.toString, "history", None))
    subTableBase(ident, CowMetaTable.FilesSuffix).foreach(b =>
      return new CowMetaTable(dir(b), ident.toString, "files", None))
    subTableBase(ident, CowMetaTable.PartitionsSuffix).foreach(b =>
      return new CowMetaTable(dir(b), ident.toString, "partitions", None))
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    else new CowSqlTable(dir(ident), ident.toString, None)
  }

  /** `VERSION AS OF v` time travel — `t$files` time-travels too (the
    * file inventory OF that snapshot); history is version-free.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    subTableBase(ident, CowMetaTable.FilesSuffix).foreach(b =>
      return new CowMetaTable(dir(b), ident.toString, "files",
        Some(version.toInt)))
    subTableBase(ident, CowMetaTable.PartitionsSuffix).foreach(b =>
      return new CowMetaTable(dir(b), ident.toString, "partitions",
        Some(version.toInt)))
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    else new CowSqlTable(dir(ident), ident.toString, Some(version.toInt))
  }

  /** `TIMESTAMP AS OF ts` time travel — Spark hands epoch MICROS; the
    * snapshot is the greatest commit stamped at or before it
    * ([[CowTable.versionAt]]).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    else new CowSqlTable(dir(ident), ident.toString,
      Some(CowTable.versionAt(dir(ident), Math.floorDiv(timestamp, 1000L))))

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    CowCatalog.requireUnreserved(ident.name())
    require(!tableExists(ident), s"table $ident already exists")
    CowTable.createEmpty(dir(ident), schema,
      partitions.toSeq.map(CowCatalog.toCowTransform))
    loadTable(ident)
  }

  /** `ALTER TABLE ... ADD COLUMN / RENAME COLUMN / DROP COLUMN /
    * ALTER COLUMN TYPE` — lowered onto the format's metadata-only
    * schema-evolution API (files never rewrite; widening must be an
    * up-cast; name-collision rules enforced by [[CowTable]]). Top-level
    * columns only; any other change class fails loudly naming itself.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val spark = SparkSession.active
    val path = dir(ident)
    def top(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"ALTER TABLE $what on a CowTable supports top-level columns " +
          s"only, got ${fieldNames.mkString(".")}")
      fieldNames.head
    }
    // Translate EVERY change before applying ANY: an unsupported change
    // class or attribute fails here, and the schema-level validations
    // all run inside ONE CowTable.alterSchema commit — a failed
    // multi-change ALTER TABLE can never leave a partially-applied DDL
    // statement behind (ADVICE r15). Attributes the format cannot honor
    // (NOT NULL on an added column — pre-evolution rows read NULL —
    // COMMENT, FIRST/AFTER position) are rejected loudly, never dropped.
    val translated: Seq[SchemaChange] = changes.map {
      case a: TableChange.AddColumn =>
        val name = top(a.fieldNames, "ADD COLUMN")
        require(a.isNullable,
          s"ADD COLUMN $name NOT NULL is unsupported on a CowTable: " +
            "pre-evolution rows read NULL in the added column")
        require(a.comment == null,
          s"ADD COLUMN $name COMMENT is not stored by the CowTable format")
        require(a.position == null,
          s"ADD COLUMN $name FIRST/AFTER is unsupported: columns append")
        require(a.defaultValue == null,
          s"ADD COLUMN $name DEFAULT is not stored by the CowTable format")
        SchemaChange.Add(name, a.dataType.sql)
      case r: TableChange.RenameColumn =>
        SchemaChange.Rename(top(r.fieldNames, "RENAME COLUMN"), r.newName)
      case d: TableChange.DeleteColumn =>
        SchemaChange.Drop(top(d.fieldNames, "DROP COLUMN"))
      case u: TableChange.UpdateColumnType =>
        SchemaChange.Widen(top(u.fieldNames, "ALTER COLUMN TYPE"),
          u.newDataType.sql)
      case other =>
        throw new UnsupportedOperationException(
          s"ALTER TABLE on a CowTable supports ADD/RENAME/DROP COLUMN and " +
            s"ALTER COLUMN TYPE (widening); got ${other.getClass.getSimpleName}")
    }
    CowTable.alterSchema(spark, path, translated)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val d = java.nio.file.Paths.get(dir(ident))
    if (!CowTable.exists(d.toString)) return false
    CowCatalog.deleteTree(d)
    true
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    CowCatalog.requireUnreserved(to.name())
    require(tableExists(from), s"no table $from")
    require(!tableExists(to), s"table $to already exists")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir(to)).getParent)
    java.nio.file.Files.move(java.nio.file.Paths.get(dir(from)),
      java.nio.file.Paths.get(dir(to)))
    ()
  }

  // ---- namespaces = directories ------------------------------------------
  override def listNamespaces(): Array[Array[String]] = {
    val d = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.isDirectory(d)) return Array.empty
    scala.util.Using.resource(java.nio.file.Files.list(d)) { st =>
      st.iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          !CowTable.exists(p.toString))
        .map(p => Array(p.getFileName.toString)).toArray
    }
  }
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty
  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) new util.HashMap[String, String]()
    else throw new NoSuchNamespaceException(namespace)
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir(namespace.toSeq)))
  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir(namespace.toSeq)))
    ()
  }
  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespace metadata is not stored")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val d = java.nio.file.Paths.get(dir(namespace.toSeq))
    if (!java.nio.file.Files.isDirectory(d)) return false
    val nonEmpty = scala.util.Using.resource(java.nio.file.Files.list(d))(
      _.iterator().hasNext)
    if (!cascade && nonEmpty)
      throw new IllegalStateException(s"namespace ${namespace.mkString(".")} not empty")
    CowCatalog.deleteTree(d)
    true
  }

  // ---- StagingTableCatalog: ATOMIC CTAS / RTAS (round 17) ----------------
  // The staged table is a REAL CowTable in a dot-prefixed sibling
  // directory (hidden from listTables); the CTAS query writes into it
  // through the ordinary V2 write face (clustered layout included),
  // and commit publishes it into place as ONE manifest commit
  // ([[CowTable.publishStaged]] — hard-linked data files, rewritten
  // line paths). CREATE TABLE ... AS SELECT is therefore all-or-
  // nothing (a failed query leaves no half-table), and REPLACE TABLE
  // ... AS SELECT lands as the NEXT VERSION of the existing table —
  // prior snapshots stay time-travelable, where the non-staging
  // drop-and-recreate fallback destroyed history.

  private def stage(ident: Identifier, schema: StructType,
                    partitions: Array[Transform], mustExist: Option[Boolean])
      : StagedTable = {
    CowCatalog.requireUnreserved(ident.name())
    mustExist.foreach { e =>
      if (e) { if (!tableExists(ident)) throw new NoSuchTableException(ident) }
      else if (tableExists(ident))
        throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
          (ident.namespace() :+ ident.name()).toSeq)
    }
    val stagedDir = (root +: ident.namespace().toSeq :+
      s".stage-${ident.name()}-${CowTable.freshName()}").mkString("/")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(stagedDir).getParent)
    CowCatalog.sweepOrphanedStages(
      java.nio.file.Paths.get(stagedDir).getParent)
    CowTable.createEmpty(stagedDir, schema,
      partitions.toSeq.map(CowCatalog.toCowTransform))
    new StagedCowTable(stagedDir, dir(ident), ident.toString)
  }

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, mustExist = Some(false))
  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, mustExist = Some(true))
  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, mustExist = None)

  // ---- FunctionCatalog: bucket (SPJ + write distribution) and the time
  // transforms (write distribution — V2ExpressionUtils resolves a
  // days/months/years clustering expression through this catalog) -------
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array("bucket", "days", "months", "years", "zorder")
      .map(Identifier.of(namespace, _))
  override def loadFunction(ident: Identifier): UnboundFunction =
    ident.name() match {
      case "bucket" => CowBucketUnbound
      case "days"   => new CowTimePartUnbound("days")
      case "months" => new CowTimePartUnbound("months")
      case "years"  => new CowTimePartUnbound("years")
      case "zorder" => CowZorderUnbound
      case other    => throw new NoSuchTableException(Seq("function", other))
    }
}

object CowCatalog {
  /** Suffixes that address a table's derived faces rather than a
    * table: `$changes` (streaming CDC), `$history` / `$files`
    * (metadata tables). Creating or renaming onto one would shadow
    * the face in loadTable.
    */
  private[sinks] def requireUnreserved(name: String): Unit = {
    val reserved = Seq(graft.sources.CowCatalogStream.ChangesSuffix,
      CowMetaTable.HistorySuffix, CowMetaTable.FilesSuffix,
      CowMetaTable.PartitionsSuffix)
    reserved.find(name.endsWith).foreach(sfx => throw new IllegalArgumentException(
      s"table name $name is reserved: the '$sfx' suffix addresses a " +
        "table's derived face (loadTable would shadow this table)"))
  }

  /** Age (ms) past which a `.stage-*` directory counts as a crashed
    * CTAS/RTAS and is reclaimed. Any LIVE stage is either seconds old
    * (the query is still writing into it) or gets renamed/deleted at
    * commit/abort — a day-old one can only be a driver-crash orphan.
    * Override with `spark.graft.stageOrphanTtlMs` (tests use a small
    * value).
    */
  private def stageOrphanTtlMs: Long = {
    val v = scala.util.Try(SparkSession.active).toOption
      .flatMap(_.conf.getOption("spark.graft.stageOrphanTtlMs"))
    v.map { s =>
      try s.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"spark.graft.stageOrphanTtlMs must be a millisecond TTL, got '$s'")
      }
    }.getOrElse(24L * 3600 * 1000)
  }

  /** Delete crashed-CTAS staging directories (`.stage-*` older than
    * [[stageOrphanTtlMs]]) under `parent`. Invoked from `stage()` and
    * `listTables` — cost is one dirent scan both already pay, plus an
    * mtime probe per dot-dir (normally zero of them).
    */
  private[sinks] def sweepOrphanedStages(parent: java.nio.file.Path): Unit = {
    if (!java.nio.file.Files.isDirectory(parent)) return
    val ttl = stageOrphanTtlMs
    val now = System.currentTimeMillis()
    val stale = scala.util.Using.resource(java.nio.file.Files.list(parent)) { st =>
      st.iterator().asScala.filter { p =>
        p.getFileName.toString.startsWith(".stage-") &&
          (try now - java.nio.file.Files.getLastModifiedTime(p).toMillis > ttl
           catch { case _: java.io.IOException => false }) // raced with commit/abort
      }.toVector
    }
    stale.foreach { p =>
      try deleteTree(p)
      catch { case _: java.io.IOException => () } // concurrent sweeper won
    }
  }

  /** Recursive delete with the walk stream materialized and CLOSED
    * before any deletion (an open Files.walk stream both holds a
    * directory fd and sees its own deletions).
    */
  private[graft] def deleteTree(d: java.nio.file.Path): Unit = {
    val paths = scala.util.Using.resource(java.nio.file.Files.walk(d)) { st =>
      st.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.toVector
    }
    paths.foreach(java.nio.file.Files.deleteIfExists(_))
  }

  /** V2 transform → CowTable write-layout transform (CREATE TABLE
    * PARTITIONED BY). Names the V2 spec and [[PartitionTransform]]
    * share: identity / bucket / years / months / days.
    */
  private[sinks] def toCowTransform(t: Transform): PartitionTransform = {
    def ref(e: org.apache.spark.sql.connector.expressions.Expression): String =
      e match {
        case r: NamedReference => r.fieldNames.mkString(".")
        case other => throw new IllegalArgumentException(s"unsupported transform arg $other")
      }
    t.name() match {
      case "identity" => PartitionTransform.identity(ref(t.arguments()(0)))
      case "bucket" =>
        val (ns, cols) = t.arguments().toSeq.partition(_.isInstanceOf[V2Literal[_]])
        PartitionTransform.bucket(
          ns.head.asInstanceOf[V2Literal[_]].value.asInstanceOf[Number].intValue(),
          ref(cols.head))
      case "years"  => PartitionTransform.year(ref(t.arguments()(0)))
      case "months" => PartitionTransform.month(ref(t.arguments()(0)))
      case "days"   => PartitionTransform.day(ref(t.arguments()(0)))
      case other =>
        throw new IllegalArgumentException(s"unsupported partition transform $other")
    }
  }

  /** The ONE bucket-assignment definition (write layout, pruning, and
    * the SPJ function all call this): Murmur3(seed 42) of the value's
    * canonical string form, non-negative mod n — exactly
    * `pmod(hash(cast(col as string)), lit(n))`, the
    * [[PartitionTransform]] `bucket` expression.
    */
  def bucketId(canonical: UTF8String, n: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
      .hash(canonical, StringType, 42L).toInt
    math.floorMod(h, n)
  }
}

/** SPJ bucket function: binds (int n, key) for integral / string /
  * date keys; canonical name is shared across all bound forms so two
  * co-bucketed scans compare equal at plan time.
  */
object CowBucketUnbound extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col) - CowTable write-layout bucket id: pmod(murmur3(string(col)), n)"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2 &&
      inputType.fields(0).dataType == IntegerType,
      s"bucket expects (int n, key), got $inputType")
    new CowBucketBound(inputType.fields(1).dataType)
  }
}

final class CowBucketBound(keyType: DataType) extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.cow.bucket"
  override def isResultNullable: Boolean = true
  override def produceResult(input: InternalRow): Integer = {
    // a null key rows into the null-partition directory; as a write
    // clustering key all nulls land in one task (SPJ never evaluates
    // this per row — plan-time partition matching only)
    if (input.isNullAt(1)) return null
    val n = input.getInt(0)
    // the SAME canonical string form PartitionTransform's
    // cast-to-string uses, per key type
    val s: UTF8String = keyType match {
      case StringType  => input.getUTF8String(1)
      case LongType    => UTF8String.fromString(input.getLong(1).toString)
      case IntegerType => UTF8String.fromString(input.getInt(1).toString)
      case ShortType   => UTF8String.fromString(input.getShort(1).toString)
      case ByteType    => UTF8String.fromString(input.getByte(1).toString)
      case DateType => UTF8String.fromString(
        org.apache.spark.sql.catalyst.util.DateFormatter().format(input.getInt(1)))
      case other => throw new UnsupportedOperationException(s"bucket key type $other")
    }
    CowCatalog.bucketId(s, n)
  }
}

/** The write-side z-order function (round 18, VERDICT r17 task 7):
  * `zorder(bits, x1, mn1, mx1[, x2, mn2, mx2[, x3, mn3, mx3]])` — the
  * interleaved z-value of up to 3 columns under FIXED normalization
  * bounds. The bounds arrive as literals baked from the table's stored
  * [[ZOrderSpec]], which is what makes this a pure row function the
  * V2 write machinery (`RequiresDistributionAndOrdering` →
  * `V2ExpressionUtils` → this catalog) can range-shuffle and sort by.
  */
object CowZorderUnbound extends UnboundFunction {
  override def name(): String = "zorder"
  override def description(): String =
    "zorder(bits, x1, mn1, mx1, ...) - interleaved z-value under fixed bounds"
  override def bind(inputType: StructType): BoundFunction = {
    val n = (inputType.fields.length - 1) / 3
    require(n >= 1 && n <= 3 && inputType.fields.length == 1 + 3 * n &&
      inputType.fields(0).dataType == IntegerType,
      s"zorder expects (int bits, then per column: value, double mn, double mx), " +
        s"got $inputType")
    new CowZorderBound(inputType.fields.toIndexedSeq.map(_.dataType))
  }
}

final class CowZorderBound(argTypes: Seq[DataType])
    extends ScalarFunction[java.lang.Long] {
  private val n = (argTypes.length - 1) / 3
  override def inputTypes(): Array[DataType] = argTypes.toArray
  override def resultType(): DataType = LongType
  override def name(): String = "zorder"
  override def canonicalName(): String = "graft.cow.zorder"
  override def isResultNullable: Boolean = false
  private def toDouble(input: InternalRow, i: Int): Double = argTypes(i) match {
    case DoubleType            => input.getDouble(i)
    case FloatType             => input.getFloat(i).toDouble
    case LongType              => input.getLong(i).toDouble
    case IntegerType | DateType => input.getInt(i).toDouble
    case ShortType             => input.getShort(i).toDouble
    case ByteType              => input.getByte(i).toDouble
    case TimestampType | TimestampNTZType => input.getLong(i).toDouble
    case d: DecimalType        => input.getDecimal(i, d.precision, d.scale).toDouble
    case other => throw new UnsupportedOperationException(
      s"zorder column type $other is not numeric-normalizable")
  }
  override def produceResult(input: InternalRow): java.lang.Long = {
    val bits = input.getInt(0)
    var z = 0L
    var k = 0
    while (k < n) {
      val vi = 1 + 3 * k
      val isNull = input.isNullAt(vi)
      z = CowTable.zValue(bits, n, k,
        input.getDouble(vi + 1), input.getDouble(vi + 2),
        if (isNull) 0.0 else toDouble(input, vi), isNull, z)
      k += 1
    }
    z
  }
}

/** METADATA-TABLE faces (round 18): `cow.ns.`t$history`` — one row per
  * retained snapshot (version, file/sidecar counts, schema/spec
  * markers, commit stamp) — and `cow.ns.`t$files`` — the snapshot's
  * file inventory (path, kind, bytes, manifest row count), time-
  * travelable via `VERSION AS OF`. Rows come from the MANIFEST alone
  * (plus one `Files.size` probe per file), computed on the driver and
  * served through a single InputPartition: the frame is manifest-
  * sized, which the snapshot parse cache already bounds — the same
  * data DESCRIBE-style tooling reads, now addressable from plain SQL.
  */
object CowMetaTable {
  val HistorySuffix = "$history"
  val FilesSuffix = "$files"
  val PartitionsSuffix = "$partitions"
  private[sinks] def schemaOf(kind: String): StructType = kind match {
    case "history" => StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("n_data_files", LongType, nullable = false),
      StructField("n_delete_sidecars", LongType, nullable = false),
      StructField("n_pos_sidecars", LongType, nullable = false),
      StructField("has_schema", BooleanType, nullable = false),
      StructField("has_partition_spec", BooleanType, nullable = false),
      StructField("commit_time_ms", LongType, nullable = false)))
    case "partitions" => StructType(Seq(
      StructField("partition", StringType, nullable = false),
      StructField("n_files", LongType, nullable = false),
      StructField("size_bytes", LongType, nullable = false),
      StructField("row_count", LongType, nullable = true)))
    case _ => StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("size_bytes", LongType, nullable = false),
      StructField("row_count", LongType, nullable = true)))
  }
}

class CowMetaTable(path: String, ident: String, kind: String, asOf: Option[Int])
    extends Table with SupportsRead {
  override def name(): String = ident
  override lazy val schema: StructType = CowMetaTable.schemaOf(kind)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = schema
      override def description(): String = s"CowMetaScan[$kind, $path]"
      override def toBatch: Batch = new Batch {
        override def planInputPartitions(): Array[InputPartition] = {
          val rows: Array[Array[Any]] = kind match {
            case "history" => CowTable.historyTuples(path).map(t =>
              Array[Any](t._1, t._2, t._3, t._4, t._5, t._6, t._7)).toArray
            case "partitions" =>
              // per partition-VALUE census from the data files' path
              // segments (old-layout files roll up under "") — the
              // row_count is the manifest R-line sum, null when any
              // member file lacks one
              val counts = CowTable.fileRowCounts(path, asOf)
              CowTable.filesTuples(path, asOf)
                .filter(_._2 == "data")
                .groupBy { case (f, _, _) =>
                  f.split('/').filter(_.contains('=')).mkString("/")
                }
                .toSeq.sortBy(_._1)
                .map { case (part, fs) =>
                  val rcs = fs.map(t => counts.get(t._1))
                  Array[Any](part, fs.size.toLong, fs.map(_._3).sum,
                    if (rcs.forall(_.isDefined))
                      java.lang.Long.valueOf(rcs.flatten.sum)
                    else null)
                }.toArray
            case _ =>
              val counts = CowTable.fileRowCounts(path, asOf)
              CowTable.filesTuples(path, asOf).map { case (f, k, sz) =>
                Array[Any](f, k, sz,
                  counts.get(f).map(java.lang.Long.valueOf).orNull)
              }.toArray
          }
          Array(CowMetaPartition(rows))
        }
        override def createReaderFactory(): PartitionReaderFactory =
          new CowMetaReaderFactory
      }
    }
}

private[sinks] case class CowMetaPartition(rows: Array[Array[Any]])
    extends InputPartition

private[sinks] class CowMetaReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rows = p.asInstanceOf[CowMetaPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow =
        InternalRow.fromSeq(rows(i).toIndexedSeq.map {
          case s: String => UTF8String.fromString(s)
          case v => v
        })
      override def close(): Unit = ()
    }
}

/** A staged CTAS/RTAS target: a real CowTable in a hidden sibling
  * directory, served through the ordinary table faces (so the CTAS
  * query's write gets the clustered V2 path), published into place or
  * deleted on the catalog's signal.
  */
class StagedCowTable(stagedPath: String, realPath: String, ident: String)
    extends StagedTable with SupportsWrite {
  private val inner = new CowSqlTable(stagedPath, ident, None)
  override def name(): String = ident
  override lazy val schema: StructType = inner.schema
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE).asJava
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    inner.newWriteBuilder(info)
  override def commitStagedChanges(): Unit = {
    CowTable.publishStaged(SparkSession.active, stagedPath, realPath)
    ()
  }
  override def abortStagedChanges(): Unit =
    CowCatalog.deleteTree(java.nio.file.Paths.get(stagedPath))
}

/** UTC time-partition functions for WRITE DISTRIBUTION: when a write
  * on a `days/months/years(ts)`-partitioned table requires clustering,
  * Spark resolves the transform through the catalog's FunctionCatalog
  * to one of these. Values are ordinal (epoch day / months-since-epoch
  * / year) computed from the instant's UTC calendar day — the same
  * UTC-day resolution [[PartitionTransform.exprOf]] lays directories
  * out by, so equal directory value ⟺ equal clustering key (the only
  * property distribution needs; the directory STRING itself is still
  * produced by exprOf at write time).
  */
final class CowTimePartUnbound(part: String) extends UnboundFunction {
  override def name(): String = part
  override def description(): String =
    s"$part(col) - UTC ordinal ${part.stripSuffix("s")} of a date/timestamp"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1 &&
      (inputType.fields(0).dataType == DateType ||
       inputType.fields(0).dataType == TimestampType),
      s"$part expects one date/timestamp column, got $inputType")
    new CowTimePartBound(part, inputType.fields(0).dataType)
  }
}

final class CowTimePartBound(part: String, keyType: DataType)
    extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(keyType)
  override def resultType(): DataType = IntegerType
  override def name(): String = part
  override def canonicalName(): String = s"graft.cow.$part"
  override def isResultNullable: Boolean = true
  override def produceResult(input: InternalRow): Integer = {
    if (input.isNullAt(0)) return null
    val epochDay: Int = keyType match {
      case DateType      => input.getInt(0)
      case TimestampType => Math.floorDiv(input.getLong(0), 86400000000L).toInt
      case other => throw new UnsupportedOperationException(s"$part key type $other")
    }
    part match {
      case "days" => epochDay
      case "months" =>
        val ld = java.time.LocalDate.ofEpochDay(epochDay.toLong)
        ld.getYear * 12 + ld.getMonthValue - 1
      case _ => java.time.LocalDate.ofEpochDay(epochDay.toLong).getYear
    }
  }
}

/** The catalog table: DSv2 read face (manifest-pruned vectorized
  * parquet readers honoring MoR sidecars) + V1 write face (INSERT INTO
  * = [[CowTable.append]], INSERT OVERWRITE = [[CowTable.overwrite]] —
  * DataFrame-level seams, same rationale as the CDC source).
  */
class CowSqlTable(val path: String, ident: String, val asOf: Option[Int])
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  /** `DELETE FROM cow.ns.t WHERE …`: the pushed filters compile to the
    * predicate string [[CowTable.delete]] rewrites touched files
    * against (copy-on-write; `deleteMor` stays the API-side rewrite-
    * free alternative). Only filters with an exact SQL rendering are
    * accepted — anything else fails ANALYSIS with a fallback hint
    * rather than approximating (`canDeleteWhere` false ⇒ Spark raises
    * its own unsupported-delete error).
    */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    asOf.isEmpty && filters.forall(f => CowSqlTable.filterSql(f).isDefined)
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val pred =
      if (filters.isEmpty) "true"
      else filters.map(f => CowSqlTable.filterSql(f).getOrElse(
        throw new UnsupportedOperationException(
          s"DELETE predicate not translatable: $f — use CowTable.delete/deleteMor")))
        .mkString("(", ") AND (", ")")
    CowTable.delete(SparkSession.active, path, pred)
    ()
  }
  override def name(): String = ident
  /** Declared schema when the table evolved (metadata-only — no file
    * listing, no footer merge that a widen's mixed physical types
    * would break), else the snapshot's merged file schema.
    */
  override lazy val schema: StructType =
    CowTable.declaredSchema(path, asOf).map(CowTable.stripLineage)
      .getOrElse(CowTable.read(SparkSession.active, path, asOf).schema)
  override def capabilities(): util.Set[TableCapability] = {
    val base = Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.OVERWRITE_BY_FILTER)
    // append-only row streaming, both directions (time-travel
    // snapshots are immutable — nothing to stream)
    (if (asOf.isEmpty)
       base + TableCapability.MICRO_BATCH_READ + TableCapability.STREAMING_WRITE
     else base).asJava
  }
  override def partitioning(): Array[Transform] =
    CowTable.partitionSpec(path, asOf).map { t =>
      t.kind match {
        case "identity" => Expressions.identity(t.src)
        case "bucket"   => Expressions.bucket(t.n, t.src)
        case "day"      => Expressions.days(t.src)
        case "month"    => Expressions.months(t.src)
        case "year"     => Expressions.years(t.src)
        case _          => Expressions.identity(t.src)
      }
    }.toArray

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CowScanBuilder(SparkSession.active, path, asOf, schema, options)

  /** The V2 WRITE FACE (round 17, VERDICT r16 task 1): a real
    * `BatchWrite` ([[CowBatchWrite]] — task-side parquet writers +
    * manifest commit from the driver) declaring
    * `RequiresDistributionAndOrdering` clustering + ordering on the
    * table's partition transforms. Spark shuffles and sorts the
    * incoming query accordingly (the V2 exec runs the PREPARED plan —
    * the V1 fallback discarded it, which is why this face moved off
    * `V1Write`), so each transform value lands contiguously in one
    * task and `INSERT INTO` writes ONE file per partition value: the
    * file-constant / co-bucketed layout every manifest pushdown (exact
    * filter, GROUP BY aggregates, SUM lines, SPJ, const-index pruning)
    * fires on. Transforms the function catalog cannot express for the
    * column's type (truncate, string-typed dates) drop out of the
    * clustering; an empty remainder degrades to unspecified
    * distribution — never an analysis error on a previously-working
    * INSERT. Clustering is non-strict (AQE may coalesce small
    * partitions and split skewed ones — at 100 TB a hot partition
    * value SHOULD fan out to several files rather than one straggler
    * task).
    */
  /** OVERWRITE routing (round 18, VERDICT r17 task 3): TRUNCATE is the
    * static INSERT OVERWRITE with no surviving partition filters;
    * `overwriteDynamicPartitions` (partitionOverwriteMode=dynamic)
    * replaces exactly the partitions the written files land in; and
    * `overwrite(filters)` (INSERT OVERWRITE … PARTITION (col=v))
    * replaces the partitions the static equalities select — each
    * riding the per-value file layout, so untouched partitions' FILES
    * carry over by reference (inode-identical) and prior snapshots
    * stay time-travelable. Filters beyond partition-source equalities
    * refuse in `canOverwrite` (Spark raises its standard
    * overwrite-by-filter error) rather than approximating.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite
        with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var mode: CowWriteMode = CowWriteMode.Append
      private def overwrite: Boolean = mode != CowWriteMode.Append
      override def truncate(): WriteBuilder = { mode = CowWriteMode.Truncate; this }
      override def overwriteDynamicPartitions(): WriteBuilder = {
        mode = CowWriteMode.Dynamic; this
      }
      private def eqOf(f: org.apache.spark.sql.sources.Filter)
          : Option[(String, Any)] = f match {
        case org.apache.spark.sql.sources.EqualTo(a, v) => Some(a -> v)
        case org.apache.spark.sql.sources.EqualNullSafe(a, v) => Some(a -> v)
        case _ => None
      }
      override def canOverwrite(
          filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
        filters.forall {
          case org.apache.spark.sql.sources.AlwaysTrue() => true
          case f => eqOf(f).exists { case (a, _) =>
            CowTable.canOverwriteByEquality(path, a) }
        }
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
        val eqs = filters.toSeq.filterNot(
          _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]).map(f =>
          eqOf(f).getOrElse(throw new UnsupportedOperationException(
            s"INSERT OVERWRITE filter not a partition equality: $f")))
        mode = if (eqs.isEmpty) CowWriteMode.Truncate else CowWriteMode.Filtered(eqs)
        this
      }
      override def build(): Write = new Write
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
        private val writeSchema: StructType =
          Option(info).map(_.schema()).getOrElse(schema)
        /** The declared z-order as a V2 sort over the catalog's
          * `zorder` function, bounds baked in as literals from the
          * stored spec (round 18). None when any z column is absent
          * from this write's schema or not numeric-normalizable — an
          * INSERT never fails for a layout hint.
          */
        private def zorderSort
            : Option[org.apache.spark.sql.connector.expressions.SortOrder] =
          CowTable.zorderSpec(path).flatMap { spec =>
            val zable: Set[DataType] = Set(DoubleType, FloatType, LongType,
              IntegerType, ShortType, ByteType, DateType, TimestampType,
              TimestampNTZType)
            val ok = spec.cols.forall { case (c, _, _) =>
              writeSchema.fields.exists(f => f.name == c &&
                (zable.contains(f.dataType) || f.dataType.isInstanceOf[DecimalType]))
            }
            if (!ok) None
            else {
              def dlit(v: Double): org.apache.spark.sql.connector.expressions.Expression =
                Expressions.literal(v)
              val args: Seq[org.apache.spark.sql.connector.expressions.Expression] =
                Expressions.literal(spec.bits) +:
                  spec.cols.flatMap { case (c, mn, mx) => Seq(
                    Expressions.column(c), dlit(mn), dlit(mx)) }
              Some(Expressions.sort(Expressions.apply("zorder", args: _*),
                org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
            }
          }
        override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution = {
          import org.apache.spark.sql.connector.distributions.Distributions
          val exprs = CowSqlTable.clusteringExprs(path, writeSchema)
          if (asOf.nonEmpty) Distributions.unspecified()
          else if (exprs.nonEmpty) Distributions.clustered(exprs.toArray)
          // no partition transforms: a declared z-order RANGE-shuffles
          // on the z-value, so each task (→ file) covers a tight z
          // range — cluster()'s repartitionByRange as a write property
          else zorderSort match {
            case Some(zs) => Distributions.ordered(Array(zs))
            case None     => Distributions.unspecified()
          }
        }
        /** Sorted within tasks by the partition transforms (a task
          * holding several values writes them contiguously — one open
          * file at a time), then by the declared z-value, so rows
          * inside each file follow the curve and row-group stats stay
          * tight on every z column.
          */
        override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          (CowSqlTable.clusteringExprs(path, writeSchema).map(e =>
            Expressions.sort(e,
              org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
              : org.apache.spark.sql.connector.expressions.SortOrder) ++
            (if (asOf.nonEmpty) None else zorderSort)).toArray
        override def distributionStrictlyRequired(): Boolean = false
        override def toBatch: org.apache.spark.sql.connector.write.BatchWrite = {
          require(asOf.isEmpty, "cannot write to a time-travel snapshot")
          new CowBatchWrite(SparkSession.active, path, writeSchema, mode)
        }
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          require(asOf.isEmpty, "cannot write to a time-travel snapshot")
          require(!overwrite,
            "streaming Complete/Update modes rewrite history per epoch — " +
              "append mode only (use CowTable.overwrite for batch replaces)")
          new CowStreamingWrite(SparkSession.active, path, writeSchema,
            Option(info).map(_.queryId()).getOrElse("anon"))
        }
      }
    }
}

object CowSqlTable {
  /** The V2 clustering expressions a write on this table should
    * distribute by — the partition transforms the function catalog can
    * evaluate for the source column's type. Identity needs no function
    * (it resolves to the attribute); bucket covers the
    * [[CowBucketBound]] key types; days/months/years cover
    * date/timestamp sources. Anything else (truncate, string-typed
    * dates) is skipped — clustering by a SUBSET still collapses the
    * per-task file fan-out on the covered transforms.
    */
  private[sinks] def clusteringExprs(path: String, schema: StructType)
      : Seq[org.apache.spark.sql.connector.expressions.Expression] = {
    def typeOf(src: String): Option[DataType] =
      schema.fields.find(_.name == src).map(_.dataType)
    val bucketable: Set[DataType] = Set(StringType, LongType, IntegerType,
      ShortType, ByteType, DateType)
    val timely: Set[DataType] = Set(DateType, TimestampType)
    CowTable.partitionSpec(path, None).flatMap { t =>
      (t.kind, typeOf(t.src)) match {
        case ("identity", Some(_)) => Some(Expressions.identity(t.src))
        case ("bucket", Some(dt)) if bucketable.contains(dt) =>
          Some(Expressions.bucket(t.n, t.src))
        case ("day", Some(dt)) if timely.contains(dt) =>
          Some(Expressions.days(t.src))
        case ("month", Some(dt)) if timely.contains(dt) =>
          Some(Expressions.months(t.src))
        case ("year", Some(dt)) if timely.contains(dt) =>
          Some(Expressions.years(t.src))
        case _ => None
      }
    }
  }

  /** Exact SQL rendering of a pushed V1 filter, or None (untranslatable
    * → the DELETE is rejected in analysis, never approximated). String
    * literals escape single quotes; other literal types render through
    * Catalyst's own Literal SQL form.
    */
  private[sinks] def filterSql(f: org.apache.spark.sql.sources.Filter): Option[String] = {
    import org.apache.spark.sql.sources._
    def lit(v: Any): Option[String] = v match {
      case null => None
      case s: String => Some("'" + s.replace("'", "''") + "'")
      case b: Boolean => Some(b.toString)
      case n @ (_: Byte | _: Short | _: Int | _: Long) => Some(n.toString)
      case d: java.sql.Date => Some(s"DATE'$d'")
      case t: java.sql.Timestamp => Some(s"TIMESTAMP'$t'")
      case _ => None // doubles/decimals: no exact round-trip text, reject
    }
    def col(c: String): Option[String] =
      if (c.forall(ch => ch.isLetterOrDigit || ch == '_')) Some(s"`$c`") else None
    f match {
      case EqualTo(c, v)            => for (a <- col(c); b <- lit(v)) yield s"$a = $b"
      case GreaterThan(c, v)        => for (a <- col(c); b <- lit(v)) yield s"$a > $b"
      case GreaterThanOrEqual(c, v) => for (a <- col(c); b <- lit(v)) yield s"$a >= $b"
      case LessThan(c, v)           => for (a <- col(c); b <- lit(v)) yield s"$a < $b"
      case LessThanOrEqual(c, v)    => for (a <- col(c); b <- lit(v)) yield s"$a <= $b"
      case In(c, vs) =>
        val ls = vs.toSeq.map(lit)
        if (ls.exists(_.isEmpty)) None
        else col(c).map(a => s"$a IN (${ls.flatten.mkString(", ")})")
      case IsNull(c)    => col(c).map(a => s"$a IS NULL")
      case IsNotNull(c) => col(c).map(a => s"$a IS NOT NULL")
      case And(l, r) => for (a <- filterSql(l); b <- filterSql(r)) yield s"($a) AND ($b)"
      case Or(l, r)  => for (a <- filterSql(l); b <- filterSql(r)) yield s"($a) OR ($b)"
      case Not(x)    => filterSql(x).map(a => s"NOT ($a)")
      case _ => None
    }
  }
}

class CowScanBuilder(spark: SparkSession, path: String, asOf: Option[Int],
                     tableSchema: StructType,
                     options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {
  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var files: Seq[String] = CowTable.snapshotFiles(path, asOf)
  private var agg: Option[(StructType, Seq[InternalRow])] = None

  /** LIMIT pushdown as FILE-LIST pruning: on a clean snapshot with no
    * pushed filters, a `LIMIT n` needs only the shortest file prefix
    * whose `R` row counts cover n — the rest never plan input
    * partitions (at 100 TB, `SELECT * ... LIMIT 10` opens one file,
    * not one million). Partial by declaration (Spark keeps its own
    * limit above the scan); declined whenever a file lacks a row count,
    * a filter could shrink rows, or MoR sidecars could delete them —
    * an under-producing prefix would silently return fewer rows.
    */
  private var limitPruned = false
  override def pushLimit(limit: Int): Boolean = {
    // exact-pushed filters keep only all-matching files, so the prefix
    // row counts stay honest; any RESIDUAL filter could shrink rows
    if (residuals.nonEmpty || agg.isDefined || limit <= 0) return false
    if (CowTable.snapshotDeletes(path, asOf).nonEmpty ||
        CowTable.snapshotPositionDeletes(path, asOf).nonEmpty) return false
    val counts = CowTable.fileRowCounts(path, asOf)
    if (!files.forall(counts.contains)) return false
    var acc = 0L
    val prefix = files.takeWhile { f =>
      val need = acc < limit
      acc += counts(f)
      need
    }
    files = prefix
    limitPruned = true
    true
  }
  override def isPartiallyPushed(): Boolean = true

  /** TOP-N pushdown as ORDERED file-prefix pruning (round 18):
    * `ORDER BY k LIMIT n` on a snapshot whose range index proves the
    * files disjoint in k plans only the covering prefix IN k ORDER —
    * manifest-order LIMIT pruning's missing half. Partial: Spark keeps
    * the real sort+limit above; only the leading sort key prunes
    * (disjointness makes every excluded row strictly beyond every kept
    * one, so secondary keys cannot pull rows back in). COMPOSES with
    * exact-pushed filters (round 18): the kept files are
    * whole-matching and a subset of pairwise-disjoint intervals stays
    * disjoint, so `WHERE day = X ORDER BY k LIMIT n` plans the
    * covering prefix of that day's files alone. Declined on any
    * residual filter or whenever
    * [[CowTable.orderedCoveringPrefix]] cannot prove coverage over the
    * current file set.
    */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    if (orders.isEmpty || limit <= 0 || residuals.nonEmpty || agg.isDefined)
      return false
    val head = orders.head
    val colName = head.expression() match {
      case nr: NamedReference if nr.fieldNames().length == 1 => nr.fieldNames()(0)
      case _ => return false
    }
    val desc = head.direction() ==
      org.apache.spark.sql.connector.expressions.SortDirection.DESCENDING
    CowTable.orderedCoveringPrefix(path, asOf, colName, desc, limit.toLong,
        files) match {
      case Some(prefix) =>
        files = prefix
        limitPruned = true
        true
      case None => false
    }
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** AGGREGATE PUSHDOWN: COUNT(*) / COUNT(col) / MIN(col) / MAX(col)
    * on a CLEAN snapshot — global, or GROUP BY one FILE-CONSTANT
    * column (identity-partitioned / perfectly clustered layouts) — is
    * answered from the manifest alone: `R` row-count lines for counts,
    * `C` stats lines for min/max/COUNT(col), and plans ZERO data-file
    * reads. The
    * moment correctness can't be guaranteed from metadata the answer
    * is declined and Spark plans the ordinary scan: MoR delete
    * sidecars invalidate file-level stats, a file missing its
    * stats/row line must be read, NaN-infected float bounds don't
    * order, and rename lineage means stats may live under old physical
    * names. Spark only offers aggregates when every filter was fully
    * pushed — our filters are all residual, so only UNFILTERED
    * aggregates arrive here, matching the unpruned-file-set guard.
    */
  /** Spark calls supportCompletePushDown then pushAggregation with the
    * SAME aggregation in one planning pass — memoize the (identity,
    * file-set) → answer so the manifest analysis (row-count parse,
    * stats parse, per-file classification) runs once per query, not
    * twice (ADVICE r16). Keyed on the file list too: a different
    * pushdown order would otherwise serve a stale answer set.
    */
  private var aggMemo: Option[(AnyRef, Seq[String],
    Option[(StructType, Seq[InternalRow])])] = None
  private def answerMemo(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[InternalRow])] = aggMemo match {
    case Some((a, fs, ans)) if (a eq aggregation) && fs == files => ans
    case _ =>
      val ans = CowAggPushdown.answer(spark, path, asOf, tableSchema, files,
        aggregation, filesExact)
      aggMemo = Some((aggregation, files, ans))
      ans
  }

  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    answerMemo(aggregation).isDefined

  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val a = answerMemo(aggregation)
    agg = a
    a.isDefined
  }

  /** Filters prune at the MANIFEST (which files are opened) via the
    * per-file range stats and dict/bloom lookup sidecars. Most filters
    * are also returned as residual (rows re-checked above the scan —
    * the parquet-reader contract). The EXCEPTION (round 16): an
    * equality/IN over a column the manifest PROVES file-constant
    * ([[CowTable.exactConstantPrune]] — identity-partitioned /
    * perfectly clustered layouts) is accepted FULLY: the kept files
    * contain only matching rows, so no residual is needed — which is
    * what lets Spark offer aggregate and limit pushdown UNDER the
    * filter (`SELECT count(*) ... WHERE day = X` stays manifest-only).
    */
  private var residuals: Array[Filter] = Array.empty
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // each usable filter in the stats gate's two shapes: IN values
    // (Left) or an inclusive range (Right)
    val shaped: Array[(Filter, String, Either[Seq[Any], (Option[Any], Option[Any])])] =
      filters.collect {
        case f @ EqualTo(c, v) if v != null => (f, c, Left(Seq(v)))
        case f @ In(c, vs) => (f, c, Left(vs.toSeq))
        case f @ GreaterThan(c, v) => (f, c, Right((Some(v), None)))
        case f @ GreaterThanOrEqual(c, v) => (f, c, Right((Some(v), None)))
        case f @ LessThan(c, v) => (f, c, Right((None, Some(v))))
        case f @ LessThanOrEqual(c, v) => (f, c, Right((None, Some(v))))
      }
    val usable = shaped.map(_._1)
    val fullyPushed = scala.collection.mutable.Set.empty[Filter]
    val exactCols = scala.collection.mutable.Set.empty[String]
    shaped.foreach { case (f, c, shape) =>
      val hint = tableSchema.fields.find(_.name == c).map(_.dataType)
      val surviving: Set[String] = (shape match {
        case Left(vs) =>
          hint.flatMap(CowTable.exactConstantPrune(spark, path, c, vs, asOf, _)) match {
            case Some(kept) => fullyPushed += f; exactCols += c; kept
            case None => CowTable.prunedFilesIn(spark, path, c, vs, asOf, hint)
          }
        case Right((lo, hi)) => CowTable.prunedFilesRange(spark, path, c, lo, hi, asOf, hint)
      }).toSet
      files = files.filter(surviving.contains)
    }
    // the companion IsNotNull the analyzer adds beside an equality is
    // fully pushed too when the equality was exact — the certificate
    // required zero nulls in every kept file, so the null check can
    // never fire (leaving it residual would block aggregate/limit
    // pushdown under the filter for no reason)
    filters.foreach {
      case f @ org.apache.spark.sql.sources.IsNotNull(c) if exactCols.contains(c) =>
        fullyPushed += f
      case _ =>
    }
    pushed = usable ++ filters.collect {
      case f @ org.apache.spark.sql.sources.IsNotNull(c) if exactCols.contains(c) => f
    }
    residuals = filters.filterNot(fullyPushed.contains)
    residuals
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** The scan's file list equals the exact answer set: no filter was
    * accepted with a residual, and no limit prefix was cut.
    */
  private def filesExact: Boolean = residuals.isEmpty && !limitPruned

  override def build(): Scan = agg match {
    case Some((schema, rows)) => new CowAggScan(path, asOf, schema, rows)
    case None =>
      new CowScan(spark, path, asOf, required, tableSchema, files, options,
        limitPruned)
  }
}

/** Manifest-only answers for pushed-down global aggregates. */
private[sinks] object CowAggPushdown {
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.json4s.{JNull, JString, JValue}

  /** The (output schema, result rows) for `aggregation`, or None when
    * the manifest cannot answer it EXACTLY (then Spark scans).
    *
    * GROUP BY pushdown (round 16, on top of the r15-task global form):
    * a single grouping column is answerable when it is
    * FILE-CONSTANT — every file's [min, max] stats coincide and the
    * file has no nulls in the column (nonNullCount == the file's `R`
    * row count), or the file is all-null (the NULL group). Identity-
    * partitioned and perfectly clustered tables have exactly this
    * shape, so `SELECT day, count(*) ... GROUP BY day` reads zero data
    * files; one mixed file anywhere → decline, full scan.
    */
  def answer(spark: SparkSession, path: String, asOf: Option[Int],
             tableSchema: StructType, files: Seq[String],
             aggregation: Aggregation,
             filesExact: Boolean): Option[(StructType, Seq[InternalRow])] = {
    // MoR sidecars subtract rows per file — file-level stats and counts
    // no longer describe the logical snapshot
    if (CowTable.snapshotDeletes(path, asOf).nonEmpty ||
        CowTable.snapshotPositionDeletes(path, asOf).nonEmpty) return None
    // the file list must be the EXACT answer set: the full snapshot, or
    // a subset certified by exactConstantPrune (every kept row matches
    // the fully-pushed filters, every dropped file provably matched
    // nothing) — then COUNT/MIN/MAX over the subset ARE the filtered
    // aggregates. A residual-pruned or limit-cut list never qualifies.
    if (!filesExact) return None
    // rename lineage: stats may be recorded under old physical names —
    // require the simple world (no lineage) rather than resolve it here
    val declared = CowTable.declaredSchema(path, asOf)
    if (declared.exists(_.fields.exists(_.metadata.contains("was")))) return None
    val rowCounts = CowTable.fileRowCounts(path, asOf)
    val stats = CowTable.fileStats(path, asOf)
    val sums = CowTable.fileSums(path, asOf)

    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 &&
            tableSchema.fieldNames.contains(r.fieldNames.head) =>
          Some(tableSchema(tableSchema.fieldIndex(r.fieldNames.head)))
        case _ => None
      }
    def statsFor(fs: Seq[String], c: String): Option[Seq[(JValue, JValue, Long)]] = {
      val per = fs.map(f => stats.get(f).flatMap(_.get(c)))
      if (per.exists(_.isEmpty)) None else Some(per.flatten)
    }
    /** A stored min/max JSON → the column's INTERNAL value; None = not
      * reconstructible (NaN/Infinity floats, unexpected shape) → decline.
      */
    def internalOf(j: JValue, t: DataType): Option[Any] = (j, t) match {
      case (org.json4s.JLong(v), ByteType)    => Some(v.toByte)
      case (org.json4s.JLong(v), ShortType)   => Some(v.toShort)
      case (org.json4s.JLong(v), IntegerType) => Some(v.toInt)
      case (org.json4s.JLong(v), LongType)    => Some(v)
      case (org.json4s.JLong(v), DateType)    => Some(v.toInt)
      case (org.json4s.JLong(v), TimestampType) => Some(v)
      case (org.json4s.JInt(v), ByteType)     => Some(v.toByte)
      case (org.json4s.JInt(v), ShortType)    => Some(v.toShort)
      case (org.json4s.JInt(v), IntegerType)  => Some(v.toInt)
      case (org.json4s.JInt(v), LongType)     => Some(v.toLong)
      case (org.json4s.JInt(v), DateType)     => Some(v.toInt)
      case (org.json4s.JInt(v), TimestampType) => Some(v.toLong)
      case (org.json4s.JDouble(v), FloatType)  => Some(v.toFloat)
      case (org.json4s.JDouble(v), DoubleType) => Some(v)
      case (JString(s), d: DecimalType) =>
        scala.util.Try(org.apache.spark.sql.types.Decimal(
          BigDecimal(s), d.precision, d.scale)).toOption
      case (JString(s), StringType) => Some(UTF8String.fromString(s))
      case _ => None
    }
    /** min/max across the per-file bounds (all-null files carry JNull
      * and are skipped — SQL MIN/MAX ignore nulls). None = a bound
      * didn't reconstruct; Some(None) = every file all-null → NULL.
      */
    def extremum(fs: Seq[String], c: StructField, takeMin: Boolean): Option[Option[Any]] =
      statsFor(fs, c.name).flatMap { per =>
        val bounds = per.map(s => if (takeMin) s._1 else s._2).filter(_ != JNull)
        if (bounds.isEmpty) Some(None)
        else {
          val vs = bounds.map(internalOf(_, c.dataType))
          if (vs.exists(_.isEmpty)) None
          else {
            val ord: Ordering[Any] = c.dataType match {
              case StringType =>
                Ordering.comparatorToOrdering(
                  (a: Any, b: Any) => a.asInstanceOf[UTF8String]
                    .compareTo(b.asInstanceOf[UTF8String]))
              case _ => org.apache.spark.sql.catalyst.util.TypeUtils
                .getInterpretedOrdering(c.dataType).asInstanceOf[Ordering[Any]]
            }
            Some(Some(vs.flatten.reduce((a, b) =>
              if ((ord.compare(a, b) <= 0) == takeMin) a else b)))
          }
        }
      }

    /** Exact SUM over `fs` from the per-file sum elements (round 17):
      * integral columns re-add the per-file long partials (addition
      * mod 2^64 is associative, so this IS the scan's answer under
      * non-ANSI wrap semantics); decimal columns combine exact string
      * partials in BigDecimal and must fit Spark's sum result type
      * `decimal(p+10, s)` — an overflowing total declines (the scan
      * path owns Spark's own overflow behavior). A file missing its
      * sum element (pre-r17 line — [[CowTable.setStatsColumns]]
      * backfills) or a float/double column declines. All-null files
      * carry JNull and contribute nothing; every file all-null → NULL,
      * SQL's empty-sum.
      */
    def sumOf(fs: Seq[String], f: StructField): Option[(StructField, Any)] = {
      val per = fs.map(fl => sums.get(fl).flatMap(_.get(f.name)))
      if (per.exists(_.isEmpty)) return None
      val vals = per.flatten.filter(_ != JNull)
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          val longs = vals.map {
            case org.json4s.JLong(v) => Some(v)
            case org.json4s.JInt(v)  => Some(v.toLong)
            case _                   => None
          }
          if (longs.exists(_.isEmpty)) None
          else Some((StructField(s"sum_${f.name}", LongType),
            if (longs.isEmpty) null else longs.flatten.reduce(_ + _)))
        case d: DecimalType =>
          val rp = math.min(38, d.precision + 10)
          val bds = vals.map {
            case JString(s) => scala.util.Try(BigDecimal(s)).toOption
            case _          => None
          }
          if (bds.exists(_.isEmpty)) None
          else if (bds.isEmpty)
            Some((StructField(s"sum_${f.name}", DecimalType(rp, d.scale)), null))
          else scala.util.Try(
            org.apache.spark.sql.types.Decimal(
              bds.flatten.reduce(_ + _), rp, d.scale)).toOption
            .map(v => (StructField(s"sum_${f.name}", DecimalType(rp, d.scale)), v))
        case _ => None
      }
    }

    def answeredFor(fs: Seq[String]): Option[Seq[(StructField, Any)]] = {
      val answered: Seq[Option[(StructField, Any)]] =
        aggregation.aggregateExpressions.toSeq.map {
          case _: CountStar =>
            if (fs.forall(rowCounts.contains))
              Some((StructField("count_star", LongType, nullable = false),
                fs.map(rowCounts).sum))
            else None
          case cnt: Count if !cnt.isDistinct =>
            colOf(cnt.column).flatMap(f => statsFor(fs, f.name).map(per =>
              (StructField(s"count_${f.name}", LongType, nullable = false),
                per.map(_._3).sum)))
          case m: Min =>
            colOf(m.column).flatMap(f => extremum(fs, f, takeMin = true).map(v =>
              (StructField(s"min_${f.name}", f.dataType), v.orNull)))
          case m: Max =>
            colOf(m.column).flatMap(f => extremum(fs, f, takeMin = false).map(v =>
              (StructField(s"max_${f.name}", f.dataType), v.orNull)))
          case s: Sum if !s.isDistinct =>
            colOf(s.column).flatMap(f => sumOf(fs, f))
          // AVG = exact-sum / nonNullCount. Integral: one double
          // rounding at the end (deterministic), where the scan path
          // accumulates doubles incrementally — within an ulp, and
          // this is the complete-pushdown path Spark only takes when
          // supportCompletePushDown said yes. DECIMAL (round 18,
          // VERDICT r17 task 9): the exact BigDecimal sum divides by
          // the non-null count under Spark's own rules — quotient at
          // MAX_SCALE with HALF_UP (`Decimal./`), then one
          // changePrecision to the Average result type
          // decimal(p+4, s+4), again HALF_UP — so the manifest answer
          // is bit-equal to the scan's. p+4 > 38 declines (Spark
          // shrinks the scale under precision pressure; the sum+count
          // rewrite still answers manifest-only). Overflow cannot
          // occur below that: an average's integer digits never exceed
          // the addends' p−s, which (p+4, s+4) preserves.
          case a: Avg if !a.isDistinct =>
            colOf(a.column).flatMap { f =>
              f.dataType match {
                case ByteType | ShortType | IntegerType | LongType =>
                  for {
                    s <- sumOf(fs, f)
                    per <- statsFor(fs, f.name)
                  } yield {
                    val n = per.map(_._3).sum
                    (StructField(s"avg_${f.name}", DoubleType),
                      if (n == 0L || s._2 == null) null
                      else s._2.asInstanceOf[Long].toDouble / n)
                  }
                case d: DecimalType if d.precision + 4 <= 38 =>
                  for {
                    s <- sumOf(fs, f)
                    per <- statsFor(fs, f.name)
                  } yield {
                    val n = per.map(_._3).sum
                    val rt = DecimalType(d.precision + 4, d.scale + 4)
                    (StructField(s"avg_${f.name}", rt),
                      if (n == 0L || s._2 == null) null
                      else {
                        val sumBD = s._2
                          .asInstanceOf[org.apache.spark.sql.types.Decimal]
                          .toJavaBigDecimal
                        val q = sumBD.divide(java.math.BigDecimal.valueOf(n),
                          DecimalType.MAX_SCALE, java.math.RoundingMode.HALF_UP)
                        org.apache.spark.sql.types.Decimal(
                          q.setScale(rt.scale, java.math.RoundingMode.HALF_UP),
                          rt.precision, rt.scale)
                      })
                  }
                case _ => None
              }
            }
          case _ => None
        }
      if (answered.exists(_.isEmpty) || answered.isEmpty) None
      else Some(answered.flatten)
    }

    aggregation.groupByExpressions.toSeq match {
      case Seq() =>
        answeredFor(files).map(a => (StructType(a.map(_._1)),
          Seq(InternalRow.fromSeq(a.map(_._2)))))
      case Seq(g) =>
        colOf(g).filter { gf =>
          // float/double group keys decline (ADVICE r16): files constant
          // at -0.0 and 0.0 would group by boxed inequality into two
          // rows where Spark's NormalizeFloatingNumbers merges them
          // (NaN bit patterns have the mirror hazard). Integral /
          // string / decimal / date keys have one internal form.
          gf.dataType != FloatType && gf.dataType != DoubleType
        }.flatMap { gf =>
          // per-file group key: file-constant (min == max, zero nulls —
          // nonNullCount equals the R row count) or the all-null file
          // (the NULL group). Any mixed file → decline.
          val keyed: Seq[Option[(Option[Any], String)]] = files.map { f =>
            (rowCounts.get(f), stats.get(f).flatMap(_.get(gf.name))) match {
              case (Some(n), Some((mn, mx, nn))) =>
                if (nn == 0L && n > 0L) Some((None, f))
                else if (nn == n && mn == mx)
                  internalOf(mn, gf.dataType).map(v => (Some(v), f))
                else None
              case _ => None
            }
          }
          if (keyed.isEmpty || keyed.exists(_.isEmpty)) None
          else {
            val groups = keyed.flatten.groupBy(_._1)
              .view.mapValues(_.map(_._2)).toSeq
            val perGroup = groups.map { case (k, fs) =>
              answeredFor(fs).map(a => (k, a)) }
            if (perGroup.exists(_.isEmpty)) None
            else {
              val rowsOut = perGroup.flatten
              val schema = StructType(
                StructField(gf.name, gf.dataType) +: rowsOut.head._2.map(_._1))
              Some((schema, rowsOut.map { case (k, a) =>
                InternalRow.fromSeq(k.orNull +: a.map(_._2)) }))
            }
          }
        }
      case _ => None
    }
  }
}

/** The zero-IO scan a fully-pushed-down aggregate plans to: ONE
  * partition serving the manifest-computed result rows (one for a
  * global aggregate, one per group for a file-constant GROUP BY). Row
  * values are already internal (UTF8String / Decimal / epoch ints),
  * shipped to the single task via the factory.
  */
class CowAggScan(path: String, asOf: Option[Int],
                 schema: StructType, rows: Seq[InternalRow])
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"CowAggScan[$path${asOf.fold("")(v => s"@v$v")}, manifest-only, " +
      s"${rows.size} rows, 0 data files]"
  override def planInputPartitions(): Array[InputPartition] =
    Array(CowAggPartition(rows.map(_.copy()).toArray))
  override def createReaderFactory(): PartitionReaderFactory = new CowAggReaderFactory
}

case class CowAggPartition(rows: Array[InternalRow]) extends InputPartition

class CowAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rows = partition.asInstanceOf[CowAggPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = rows(i)
      override def close(): Unit = ()
    }
}

/** One scan = the pruned file set + the snapshot's sidecar state.
  * Partitions are per-file (scan-parallel default) or per-bucket
  * (`spark.graft.cowSpj=true` on a single-bucket-transform table,
  * reporting `KeyGroupedPartitioning` for zero-exchange joins/aggs).
  */
class CowScan(spark: SparkSession, path: String, asOf: Option[Int],
              required: StructType, tableSchema: StructType, files: Seq[String],
              options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
              limitPruned: Boolean = false)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsRuntimeV2Filtering with SupportsReportStatistics {

  /** `spark.readStream.table("cow.ns.t")`: the APPEND-ONLY row stream
    * (initial snapshot, then each window's added files' rows; rewrite
    * windows fail loudly naming the `\$changes` CDC face). Option
    * parity with the V1 cow-cdc source: startingVersion,
    * maxVersionsPerBatch.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new graft.sources.CowAppendMicroBatchStream(spark, path, required, tableSchema,
      graft.sources.CowCatalogStream.intOpt(options, "startingVersion"),
      graft.sources.CowCatalogStream.maxVersions(options),
      Option(options.get("maxRowsPerBatch")).map(_.toLong))

  /** The served file set — plan-time pruned by the builder, then
    * re-pruned at EXECUTION time by [[filter]] (runtime IN filters from
    * dynamic partition pruning / DSv2 runtime filtering).
    */
  private var curFiles: Seq[String] = files

  /** Columns a runtime filter can prune files on: anything the
    * manifest carries range stats or dict/bloom lookup sidecars for.
    * Reporting them is what invites Spark's PartitionPruning /
    * runtime-filtering rules to plan a DPP subquery against this scan
    * — the biggest remaining scan-volume lever for the 100 TB star
    * join (SPJ removed the exchange; this removes the untouched files'
    * IO when the dim side is filtered).
    */
  override def filterAttributes(): Array[NamedReference] =
    // a limit-pruned file prefix must not shrink further at runtime:
    // the prefix was sized to COVER the limit, and a runtime filter
    // dropping prefix files could under-produce it
    if (limitPruned) Array.empty
    else (CowTable.statsColumns(path, asOf) ++
      CowTable.lookupSpec(path, asOf).map(_._1).getOrElse(Seq.empty))
      .distinct.map(Expressions.column).toArray

  /** Runtime re-prune: each IN/= predicate over a stats/lookup column
    * re-runs the SAME manifest gate plan-time pushdown uses
    * ([[CowTable.prunedFilesIn]] — range stats + dict/bloom sidecars).
    * File-level only and conservative by construction: kept files still
    * re-check every row at the join, so an unprunable value costs IO,
    * never correctness.
    */
  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    predicates.foreach { p =>
      CowScan.runtimeIn(p).foreach { case (c, vs) =>
        val hint = tableSchema.fields.find(_.name == c).map(_.dataType)
        val surviving =
          CowTable.prunedFilesIn(spark, path, c, vs, asOf, hint).toSet
        curFiles = curFiles.filter(surviving.contains)
      }
    }

  /** Planner statistics from the manifest: `sizeInBytes` = filesystem
    * bytes of the CURRENT (pruned) file set scaled by
    * `spark.sql.sources.fileCompressionFactor`; `numRows` = exact `R`
    * row counts minus MoR-deleted rows, reported only when EVERY file
    * has a count. This is what lets a small catalog dim AUTO-broadcast
    * (no hint) and AQE see honest post-pushdown sizes — without it a
    * DSv2 relation defaults to "infinite" and always shuffles.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val factor = spark.conf.getOption("spark.sql.sources.fileCompressionFactor")
      .map(_.toDouble).getOrElse(1.0)
    val bytes = (curFiles.map(f => scala.util.Try(
      java.nio.file.Files.size(java.nio.file.Paths.get(f))).getOrElse(0L))
      .sum * factor).toLong
    val counts = CowTable.fileRowCounts(path, asOf)
    val morDeleted = keyDeletes.map(_._2.size.toLong).getOrElse(0L) +
      posRanges.valuesIterator.map(_.map(r => r._2 - r._1 + 1).sum).sum
    val rows: Option[Long] =
      if (curFiles.forall(counts.contains))
        Some(math.max(0L, curFiles.map(counts).sum - morDeleted))
      else None
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    }
  }

  // RENAME lineage resolves per file WITHOUT footer inspection (round
  // 15): the readers request the current name AND every lineage name
  // (all at the declared type), and the projection coalesces the
  // group. Exact by construction — the rename/add collision rules
  // guarantee a file physically carries AT MOST ONE of the group's
  // names, absent parquet columns read as all-null vectors, and a
  // stored NULL under the present name falls through to all-null
  // absent columns, i.e. stays NULL.

  private val posRanges: Map[String, Seq[(Long, Long)]] = {
    val sidecars = CowTable.snapshotPositionDeletes(path, asOf)
    if (sidecars.isEmpty) Map.empty
    else spark.read.parquet(sidecars: _*)
      .groupBy("__file")
      .agg(org.apache.spark.sql.functions.collect_list(
        org.apache.spark.sql.functions.struct(
          org.apache.spark.sql.functions.col("__lo"),
          org.apache.spark.sql.functions.col("__hi"))).as("r"))
      .collect().map { r =>
        CowScan.canonPath(r.getString(0)) ->
          r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getLong(0), x.getLong(1)))
      }.toMap
  }

  /** Key-delete sidecar, driver-collected (bounded by compaction
    * cadence; loud cap). Stored as (key column names, canonical-string
    * tuple set). BOTH sides of the comparison live in the INTERNAL type
    * domain: the sidecar is collected via `queryExecution.toRdd`
    * (InternalRow — Int days, Long micros, UTF8String) and stringified
    * through the same [[CowScan.canonKey]] the per-row reader check
    * uses. Collecting external rows (java.sql.Date "2020-01-01") and
    * comparing against internal ones (Int 18262) silently matched
    * nothing for date/timestamp/binary keys — ADVICE r14 (high).
    */
  private val keyDeletes: Option[(Seq[String], Set[Seq[String]])] = {
    // the MoR anti-join rule owns the deletes for this scan: the rule
    // rewrote the relation into scan LEFT ANTI JOIN sidecar and set
    // this option, so filtering here too would be redundant work
    val sidecars =
      if (options.containsKey(graft.plans.CowMorAntiJoinRule.Flag)) Seq.empty
      else CowTable.snapshotDeletes(path, asOf)
    if (sidecars.isEmpty) None
    else {
      val df = spark.read.parquet(sidecars: _*).distinct()
      val n = df.count()
      require(n <= 100000,
        s"$n MoR-deleted keys exceed the catalog scan's 100k per-task bound; " +
          "install GraftExtensions (CowMorAntiJoinRule routes this scan " +
          "through a distributed anti-join above the bound), run " +
          "CowTable.compact to fold sidecars, or read via CowTable.read")
      val cols = df.columns.toSeq
      val types = df.schema.fields.map(_.dataType)
      types.zip(cols).foreach { case (t, c) =>
        require(CowScan.atomicKeyType(t),
          s"MoR key-delete column $c has non-atomic type $t; the catalog " +
            "scan's canonical-string key filter covers atomic types only — " +
            "read via CowTable.read / the cow_snapshot TVF") }
      val rows = df.queryExecution.toRdd.map(_.copy()).collect()
      Some((cols, rows.map(r => cols.indices.map(i =>
        CowScan.canonKey(if (r.isNullAt(i)) null else r.get(i, types(i))))).toSet))
    }
  }

  private def spjSpec: Option[PartitionTransform] =
    if (!spark.conf.getOption("spark.graft.cowSpj").contains("true")) None
    else CowTable.partitionSpec(path, asOf) match {
      case Seq(t) if t.kind == "bucket" => Some(t)
      case _                            => None
    }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"CowScan[$path${asOf.fold("")(v => s"@v$v")}, files=${curFiles.size}]"

  override def outputPartitioning(): Partitioning = spjSpec match {
    case Some(t) =>
      new KeyGroupedPartitioning(Array(Expressions.bucket(t.n, t.src)), t.n)
    case None => new UnknownPartitioning(planInputPartitions().length)
  }

  override def planInputPartitions(): Array[InputPartition] = spjSpec match {
    case Some(t) =>
      // one partition per bucket id, EVERY bucket present (possibly
      // with zero files) so the reported count and the key space stay
      // aligned on both join sides
      val byBucket = curFiles.groupBy { f =>
        val tag = s"${t.name}="
        f.split('/').find(_.startsWith(tag)).map(_.stripPrefix(tag).toInt)
          .getOrElse(throw new IllegalStateException(
            s"file $f is not laid out under the ${t.name} spec; rewrite via " +
              "CowTable.cluster/compact before enabling spark.graft.cowSpj"))
      }
      (0 until t.n).map(b => CowInputPartition(
        byBucket.getOrElse(b, Seq.empty).toArray, Some(b)): InputPartition).toArray
    case None =>
      curFiles.map(f => CowInputPartition(Array(f), None): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // key-delete columns the projection pruned must still be DECODED
    // (at their real table types) for the filter, then projected out
    val extraFields: Seq[StructField] =
      keyDeletes.map(_._1.filterNot(required.fieldNames.contains)
        .map(n => tableSchema(tableSchema.fieldIndex(n))).toSeq).getOrElse(Seq.empty)
    val baseFields = required.fields ++ extraFields
    val lineage: Map[String, Seq[String]] =
      CowTable.declaredSchema(path, asOf).map(_.fields.collect {
        case f if f.metadata.contains("was") =>
          f.name -> f.metadata.getStringArray("was").toSeq
      }.toMap).getOrElse(Map.empty)
    keyDeletes.foreach { case (cols, _) =>
      cols.foreach(c => require(lineage.getOrElse(c, Seq.empty).isEmpty,
        s"MoR key-delete column $c carries rename lineage; fold sidecars " +
          "(compact) before renaming a delete-key column, or read via " +
          "CowTable.read"))
    }
    // per-base-field read group: current name followed by its lineage
    // names, all at the declared type (old files upcast in the reader)
    val groups: Array[Int] = baseFields.map(f =>
      1 + lineage.getOrElse(f.name, Seq.empty).length)
    val readFields: Array[StructField] = baseFields.flatMap(f =>
      (f.name +: lineage.getOrElse(f.name, Seq.empty)).map(n =>
        StructField(n, f.dataType, nullable = true)))
    new CowReaderFactory(required.json,
      StructType(readFields).json, groups,
      posRanges.map { case (k, v) => k -> v.toArray },
      keyDeletes.map { case (c, s) => (c.toArray, s) })
  }
}

object CowScan {
  /** `_metadata.file_path` URI vs manifest filesystem path. */
  private[sinks] def canonPath(p: String): String =
    if (p.startsWith("file:")) p.stripPrefix("file:") else p

  /** A runtime V2 predicate as (column, external values), when it is an
    * `IN`/`=` over a single top-level column with literal values (the
    * shape Spark's DPP machinery sends). Literals arrive in the
    * INTERNAL domain (UTF8String, epoch ints) and convert to the
    * external values the manifest gates canonicalize; anything else →
    * None (no pruning, never an approximation).
    */
  private[sinks] def runtimeIn(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[(String, Seq[Any])] = {
    def colName(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames.head)
      case _ => None
    }
    def ext(e: org.apache.spark.sql.connector.expressions.Expression): Option[Any] =
      e match {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          Some(org.apache.spark.sql.catalyst.CatalystTypeConverters
            .convertToScala(l.value, l.dataType))
        case _ => None
      }
    val kids = p.children()
    p.name() match {
      case "IN" if kids.length >= 2 =>
        for {
          c <- colName(kids.head)
          vs <- { val es = kids.tail.toSeq.map(ext)
                  if (es.exists(_.isEmpty)) None else Some(es.flatten) }
        } yield (c, vs)
      case "=" if kids.length == 2 =>
        for { c <- colName(kids(0)); v <- ext(kids(1)) } yield (c, Seq(v))
      case _ => None
    }
  }

  /** One canonical string per INTERNAL value, used on both sides of the
    * MoR key-delete filter (sidecar collection above, per-row reader
    * check below) so the comparison never crosses type domains. Nulls
    * carry a sentinel (the string "null" must not match a null key);
    * binary is value-encoded (arrays stringify by identity otherwise).
    */
  private[sinks] def canonKey(v: Any): String = v match {
    case null           => "\u0000<null>"
    case b: Array[Byte] => "\u0001" + java.util.Base64.getEncoder.encodeToString(b)
    case other          => String.valueOf(other)
  }

  /** Types whose internal form stringifies value-faithfully; nested
    * types would compare by ArrayData/InternalRow toString — reject
    * loudly rather than ever be silently wrong.
    */
  private[sinks] def atomicKeyType(t: DataType): Boolean = t match {
    case _: org.apache.spark.sql.types.ArrayType |
         _: org.apache.spark.sql.types.MapType |
         _: org.apache.spark.sql.types.StructType => false
    case _ => true
  }
}

case class CowInputPartition(files: Array[String], bucket: Option[Int])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucket.getOrElse(0))
}

/** Per-file vectorized parquet readers (the same
  * `VectorizedParquetRecordReader` Spark's own parquet scan runs),
  * chained across the partition's files; the REQUESTED Spark schema
  * drives column pruning inside the reader. Positional deletes skip by
  * running row ordinal; key deletes filter against the canonical-string
  * tuple set. Local-filesystem scope: readers build a fresh Hadoop conf
  * (a cluster deployment would broadcast the session's).
  */
class CowReaderFactory(requiredJson: String, readSchemaJson: String,
                       groups: Array[Int],
                       posRanges: Map[String, Array[(Long, Long)]],
                       keyDeletes: Option[(Array[String], Set[Seq[String]])])
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CowInputPartition]
    val required = DataType.fromJson(requiredJson).asInstanceOf[StructType]
    new PartitionReader[InternalRow] {
      // required columns plus any key-delete columns the projection
      // pruned (real table types), each expanded to its rename-lineage
      // name group; the projection below coalesces each group and
      // drops the key-delete extras after the key filter
      private val readSchema =
        DataType.fromJson(readSchemaJson).asInstanceOf[StructType]
      private val starts: Array[Int] = groups.scanLeft(0)(_ + _).init
      private val extra = groups.length > required.fields.length
      private val needProject = extra || groups.exists(_ > 1)
      private var fileIdx = -1
      private var reader: VectorizedParquetRecordReader = _
      private var ordinal: Long = -1L
      private var ranges: Array[(Long, Long)] = Array.empty
      private var current: InternalRow = _
      // key-delete columns are lineage-free (enforced at scan build),
      // so their group is a singleton and name lookup stays direct
      private val keyIdx: Array[Int] = keyDeletes
        .map(_._1.map(n => readSchema.fieldIndex(n))).getOrElse(Array.empty)
      private val keyTypes: Array[DataType] = keyIdx.map(readSchema.fields(_).dataType)
      private val project: UnsafeProjection =
        if (!needProject) null
        else UnsafeProjection.create(required.fields.zipWithIndex.map {
          case (f, i) =>
            val refs = (starts(i) until starts(i) + groups(i)).map(j =>
              BoundReference(j, f.dataType, nullable = true)
                : org.apache.spark.sql.catalyst.expressions.Expression)
            (if (refs.length == 1) refs.head
             else org.apache.spark.sql.catalyst.expressions.Coalesce(refs))
              : org.apache.spark.sql.catalyst.expressions.Expression
        }.toIndexedSeq)

      private def openNext(): Boolean = {
        if (reader != null) { reader.close(); reader = null }
        fileIdx += 1
        if (fileIdx >= p.files.length) return false
        val f = p.files(fileIdx)
        val conf = new Configuration()
        conf.set("parquet.read.support.class",
          "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
        conf.set("org.apache.spark.sql.parquet.row.requested_schema", readSchema.json)
        conf.setBoolean("spark.sql.parquet.binaryAsString", false)
        conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
        conf.setBoolean("spark.sql.caseSensitive", false)
        conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
        conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
        val hp = new HPath(f)
        val len = hp.getFileSystem(conf).getFileStatus(hp).getLen
        val r = new VectorizedParquetRecordReader(
          null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096)
        r.initialize(new FileSplit(hp, 0, len, Array.empty[String]),
          new TaskAttemptContextImpl(conf, new TaskAttemptID()))
        reader = r
        ordinal = -1L
        ranges = posRanges.getOrElse(CowScan.canonPath(f), Array.empty)
        true
      }

      private def deletedAt(ord: Long): Boolean = {
        var i = 0
        while (i < ranges.length) {
          if (ord >= ranges(i)._1 && ord <= ranges(i)._2) return true
          i += 1
        }
        false
      }

      private def keyDeleted(row: InternalRow): Boolean = keyDeletes match {
        case None => false
        case Some((_, set)) =>
          val k = new Array[String](keyIdx.length)
          var i = 0
          while (i < keyIdx.length) {
            val v = row.get(keyIdx(i), keyTypes(i))
            k(i) = CowScan.canonKey(v)
            i += 1
          }
          set.contains(k.toSeq)
      }

      override def next(): Boolean = {
        while (true) {
          if (reader == null && !openNext()) return false
          if (reader.nextKeyValue()) {
            ordinal += 1
            if (!deletedAt(ordinal)) {
              val row = reader.getCurrentValue.asInstanceOf[InternalRow]
              if (!keyDeleted(row)) {
                current = if (project == null) row else project(row)
                return true
              }
            }
          } else {
            reader.close(); reader = null
          }
        }
        false // unreachable
      }
      override def get(): InternalRow = current
      override def close(): Unit =
        if (reader != null) { reader.close(); reader = null }
    }
  }
}
