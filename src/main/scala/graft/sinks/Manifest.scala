package graft.sinks

import org.apache.spark.sql.types

/** One CowTable snapshot manifest (`_snapshots/v{N}.json`), parsed — the
  * ONLY code that knows the on-disk line format. The file is a newline
  * list: a line without a prefix names a DATA file; every other line
  * starts with the prefix documented on its field below. [[render]]
  * writes the lines in a canonical order (data files, sidecars, spec
  * lines, per-file entries, commit stamp); [[Manifest.parse]] keeps each
  * line's payload byte-for-byte (JSON payloads stay text, parsed lazily
  * by their readers), so parse → render reproduces any manifest's lines
  * as a multiset and tables written under any earlier line order read
  * and time-travel unchanged.
  *
  * Writers never edit lines: they commit `base.copy(...)` through
  * `CowTable.commit`, which retires per-file `C`/`R`/`B` entries with
  * their files and `C`/`B` entries with their spec, and stamps `W`.
  */
private[sinks] final case class Manifest(
    /** DATA files (no prefix): the immutable parquet files constituting
      * the version, in read order.
      */
    dataFiles: Vector[String] = Vector.empty,

    /** `D <file>` — MERGE-ON-READ key delete sidecars: parquet files of
      * DELETED KEYS (one or more key columns; every sidecar of a table
      * carries the SAME column set). A `deleteMor` commit adds one and
      * carries every data file by reference — zero data-file writes.
      * Readers anti-join the union ON THE SIDECAR'S OWN COLUMN NAMES;
      * `compact`/`cluster` fold them into the data; `merge` un-deletes
      * keys its batch reinserts.
      */
    keyDeletes: Vector[String] = Vector.empty,

    /** `P <file>` — POSITIONAL delete sidecars (the Iceberg-v2 shape):
      * parquet files of (`__file`, `__lo`, `__hi`) rows, consecutive-run
      * RANGES of 0-based row ordinals (`_metadata.row_index`) deleted
      * from each data file — bounded by file-count × run-count, not by
      * the deleted-row count. Readers apply them per file (broadcast of
      * the range list), never a table-wide anti-join.
      */
    posDeletes: Vector[String] = Vector.empty,

    /** `S <StructType json>` — the DECLARED schema (schema evolution),
      * each field's rename lineage (prior physical names, newest first)
      * in its metadata under `was`. Reads project every file through it
      * — add/rename/drop/widen never rewrite data files. Absent: files
      * read raw (merged schema).
      */
    schemaJson: Option[String] = None,

    /** `T <metadata json>` — the PARTITION-TRANSFORM spec (hidden
      * partitioning, [[PartitionTransform.encode]]): new data writes lay
      * files out under `<transform>=<value>` directories and reads prune
      * the file list from the path segments. Changing it is a metadata
      * commit; old files keep their layout and simply never prune.
      */
    partitionJson: Option[String] = None,

    /** `X <appId> <version>` — TRANSACTION watermarks (the Delta `txn`
      * shape): the highest writer version each application committed.
      * A txn write carrying `(appId, v)` with `v <=` the watermark is a
      * NO-OP, which makes a foreachBatch sink effectively-once (a
      * replayed micro-batch re-presents the same (appId, batchId)).
      */
    txns: Map[String, Long] = Map.empty,

    /** `W <epoch millis>` — the COMMIT TIMESTAMP, clamped monotone
      * against the base snapshot's (a regressed clock never reorders time
      * travel against version order); never carried, each commit stamps
      * its own. `TIMESTAMP AS OF` resolves through it; unstamped
      * manifests inherit the previous stamp (0 before any).
      */
    commitMs: Option[Long] = None,

    /** `C <file>\t<json>` — PER-FILE COLUMN STATISTICS: for each declared
      * stats column `[min, max, nonNullCount, sum]` over the file's rows
      * (sum only for integral/decimal columns; older lines have three
      * elements). Reads prune on range/equality/IN predicates: a file is
      * skipped only when its [min, max] provably excludes every match —
      * a file without an entry is always read. MoR-deleted rows leave
      * stats over-approximate, never wrong. Live only under a
      * [[statsColumns]] declaration.
      */
    stats: Map[String, String] = Map.empty,

    /** `K col1,col2` — the declared stats columns (see [[stats]]). */
    statsColumns: Seq[String] = Seq.empty,

    /** `R <file>\t<count>` — PER-FILE ROW COUNT, recorded by every
      * data-writing path: manifest-only `COUNT(*)` and exact `numRows`
      * planner estimates. Files without an entry make every consumer
      * fall back to scanning.
      */
    rowCounts: Map[String, Long] = Map.empty,

    /** `B <file>\t<json>` — PER-FILE KEY LOOKUP SIDECARS: for each
      * declared lookup column, the file's exact distinct-value
      * dictionary (`{"d": [...]}`, NDV ≤ dictMax) or a bloom filter over
      * the canonical key strings (`{"b": base64, "m": bits}`). They prune
      * high-cardinality equality/IN lookups on columns the table is NOT
      * clustered by, where every file's [min, max] spans the key. A file
      * is skipped only when NO requested key can be present. Live only
      * under a [[lookupSpec]].
      */
    lookups: Map[String, String] = Map.empty,

    /** `L <dictMax> <bits> col1,col2` — the declared lookup spec:
      * (columns, dictMax, bloomBits).
      */
    lookupSpec: Option[(Seq[String], Int, Int)] = None,

    /** `ZO <bits> <col>:<mn>:<mx>,…` — WRITE-SIDE Z-ORDER spec: the
      * clustering columns and the FIXED normalization bounds every later
      * INSERT interleaves under, so the z-value is a pure function of
      * the row. Out-of-bounds values clamp to the curve's edge cell;
      * pruning stays sound because it reads the real per-file stats.
      */
    zorder: Option[ZOrderSpec] = None) {

  lazy val schema: Option[types.StructType] =
    schemaJson.map(types.DataType.fromJson(_).asInstanceOf[types.StructType])

  lazy val partitionTransforms: Seq[PartitionTransform] =
    partitionJson.fold(Seq.empty[PartitionTransform])(PartitionTransform.decode)

  /** The spec line's semantics version ([[PartitionTransform.SpecV]]
    * when no spec is declared — nothing to distrust).
    */
  def partitionSpecVersion: Long =
    partitionJson.fold(PartitionTransform.SpecV)(PartitionTransform.decodeVersion)

  def withSchema(s: types.StructType): Manifest = copy(schemaJson = Some(s.json))

  def withPartitionSpec(ts: Seq[PartitionTransform]): Manifest =
    copy(partitionJson = if (ts.isEmpty) None else Some(PartitionTransform.encode(ts)))

  /** Every data file and delete sidecar dropped; spec lines kept. */
  def truncated: Manifest =
    copy(dataFiles = Vector.empty, keyDeletes = Vector.empty, posDeletes = Vector.empty)

  /** `fresh`'s data files appended, with their per-file entries. */
  def withFiles(fresh: Manifest): Manifest =
    copy(dataFiles = dataFiles ++ fresh.dataFiles, stats = stats ++ fresh.stats,
      rowCounts = rowCounts ++ fresh.rowCounts, lookups = lookups ++ fresh.lookups)

  /** Every file reference — data files, both sidecar kinds and the keys
    * of the per-file entries — mapped through `f` (table relocation).
    */
  def mapFiles(f: String => String): Manifest =
    copy(dataFiles = dataFiles.map(f), keyDeletes = keyDeletes.map(f),
      posDeletes = posDeletes.map(f),
      stats = stats.map { case (k, v) => f(k) -> v },
      rowCounts = rowCounts.map { case (k, v) => f(k) -> v },
      lookups = lookups.map { case (k, v) => f(k) -> v })

  def render: String = {
    def perFile[V](tag: String, m: Map[String, V]): Seq[String] =
      m.toSeq.sortBy(_._1).map { case (f, p) => s"$tag $f\t$p" }
    (dataFiles ++ keyDeletes.map("D " + _) ++ posDeletes.map("P " + _) ++
      schemaJson.map("S " + _) ++ partitionJson.map("T " + _) ++
      txns.toSeq.sorted.map { case (app, v) => s"X $app $v" } ++
      Option.when(statsColumns.nonEmpty)("K " + statsColumns.mkString(",")) ++
      lookupSpec.map { case (cols, d, b) => s"L $d $b ${cols.mkString(",")}" } ++
      zorder.map(z => s"ZO ${z.bits} " +
        z.cols.map { case (c, mn, mx) => s"$c:$mn:$mx" }.mkString(",")) ++
      perFile("C", stats) ++ perFile("R", rowCounts) ++ perFile("B", lookups) ++
      commitMs.map("W " + _)).mkString("\n")
  }
}

private[sinks] object Manifest {

  /** Parse manifest text. A malformed spec or per-file line is skipped
    * (its reader would have ignored it); the first line of a
    * single-valued kind wins; a repeated txn app keeps its highest
    * version.
    */
  def parse(text: String): Manifest = {
    val data, dels, pos = Vector.newBuilder[String]
    var m = Manifest()
    def perFile(body: String): Option[(String, String)] = {
      val i = body.indexOf('\t')
      if (i < 0) None else Some(body.substring(0, i) -> body.substring(i + 1))
    }
    text.split("\n").iterator.filter(_.nonEmpty).foreach { l =>
      val sp = l.indexOf(' ')
      val body = l.substring(sp + 1)
      (if (sp == 1 || sp == 2) l.substring(0, sp) else "") match {
        case "D" => dels += body
        case "P" => pos += body
        case "S" => if (m.schemaJson.isEmpty) m = m.copy(schemaJson = Some(body))
        case "T" => if (m.partitionJson.isEmpty) m = m.copy(partitionJson = Some(body))
        case "X" =>
          val i = body.indexOf(' ')
          if (i > 0) body.substring(i + 1).trim.toLongOption.foreach { v =>
            val app = body.substring(0, i)
            m = m.copy(txns = m.txns.updated(app, math.max(v, m.txns.getOrElse(app, v))))
          }
        case "W" =>
          if (m.commitMs.isEmpty) m = m.copy(commitMs = body.trim.toLongOption)
        case "C" => perFile(body).foreach(e => m = m.copy(stats = m.stats + e))
        case "K" =>
          if (m.statsColumns.isEmpty)
            m = m.copy(statsColumns = body.split(",").toSeq.filter(_.nonEmpty))
        case "R" => perFile(body).foreach { case (f, n) =>
          n.trim.toLongOption.foreach(c => m = m.copy(rowCounts = m.rowCounts.updated(f, c)))
        }
        case "B" => perFile(body).foreach(e => m = m.copy(lookups = m.lookups + e))
        case "L" => if (m.lookupSpec.isEmpty) body.split(" ", 3) match {
          case Array(d, b, cs) =>
            m = m.copy(lookupSpec = scala.util.Try(
              (cs.split(",").toSeq.filter(_.nonEmpty), d.toInt, b.toInt)).toOption)
          case _ =>
        }
        case "ZO" => if (m.zorder.isEmpty) m = m.copy(zorder = scala.util.Try {
          val i = body.indexOf(' ')
          ZOrderSpec(body.take(i).toInt, body.drop(i + 1).split(',').toIndexedSeq.map { e =>
            val Array(c, mn, mx) = e.split(':')
            (c, mn.toDouble, mx.toDouble)
          })
        }.toOption)
        case _ => data += l
      }
    }
    m.copy(dataFiles = data.result(), keyDeletes = dels.result(), posDeletes = pos.result())
  }
}
