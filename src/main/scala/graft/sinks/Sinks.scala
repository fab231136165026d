package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Sink surface — the `KStream.to` / `Materialized` analogues
  * (SURVEY.md §2.2 rows 9, 25), plus the two write-side layout tools
  * that matter at 100 TB: partitioned layout (partition pruning on
  * read) and bucketed layout (shuffle-free co-located joins).
  */
object Sinks {

  /** Partitioned parquet: one directory per partition-column value →
    * reads filtered on those columns prune whole directories
    * (`PartitionFilters` in the scan, no IO for skipped values).
    */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(path)

  /** DYNAMIC partition overwrite: replace ONLY the partitions present
    * in `df`, leaving every other partition directory untouched — the
    * idempotent-daily-rerun semantics a 100 TB ingest pipeline needs
    * (re-running one day must not truncate the table, which is exactly
    * what static overwrite mode would do). Session conf is restored
    * after the write.
    */
  def overwritePartitionsDynamic(df: DataFrame, path: String, cols: String*): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try df.write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(path)
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
  }

  /** Bucketed catalog table: rows are hash-bucketed on `key` at write
    * time, so joins/aggregations between tables bucketed on the same
    * key with the same bucket count need NO shuffle at read time — the
    * co-located-join layout for repeated fact⋈fact joins at scale.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** The streaming query behind every stream wrapper here: `body` runs
    * per micro-batch (with its batch id) under foreachBatch,
    * checkpointed at `checkpoint`, in the default append output mode.
    */
  private def perBatch(stream: DataFrame, checkpoint: String)
                      (body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream.option("checkpointLocation", checkpoint).foreachBatch(body).start()

  /** The rows stored under the parquet directory `path`, if it exists. */
  private def stored(spark: SparkSession, path: String): Option[DataFrame] =
    Option.when(new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new Path(path)))(spark.read.parquet(path))

  /** Replace the parquet directory `path` with `df`: write it to
    * `stage`, delete `path`, rename `stage` into place — the
    * bounded-scale rewrite the parquet upsert sinks and
    * [[compactParquet]] share.
    */
  private def stageAndSwap(df: DataFrame, path: String, stage: String): Unit = {
    val fs = new Path(path).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    df.write.mode(SaveMode.Overwrite).parquet(stage)
    fs.delete(new Path(path), true)
    fs.rename(new Path(stage), new Path(path))
    ()
  }

  /** foreachBatch fan-out: ONE streaming query feeding two sinks — the
    * raw event log (append) and a per-type running aggregate rollup —
    * without running (and state-keeping) the pipeline twice. The
    * batch is persisted for the duration of the fan-out so the two
    * writes share one computation, and each write lands under a
    * batch-id directory: re-delivered batches (restart replay)
    * overwrite their own output instead of duplicating — the
    * at-least-once → effectively-once upgrade foreachBatch exists for.
    */
  def fanoutParquet(stream: DataFrame, rawPath: String, aggPath: String,
                    checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    perBatch(stream, checkpoint) { (batch, id) =>
      fanoutBatch(batch, id, rawPath, aggPath)
    }

  /** Per-micro-batch body of [[fanoutParquet]] (replay-contract
    * testable: a second call with the same (batch, id) must leave both
    * sinks exactly as the first call did).
    */
  private[graft] def fanoutBatch(batch: DataFrame, id: Long,
                                 rawPath: String, aggPath: String): Unit = {
    batch.persist()
    try {
      batch.write.mode(SaveMode.Overwrite).parquet(s"$rawPath/batch=$id")
      batch.groupBy("event_type")
        .agg(org.apache.spark.sql.functions.count(
               org.apache.spark.sql.functions.lit(1)).as("c"))
        .write.mode(SaveMode.Overwrite).parquet(s"$aggPath/batch=$id")
    } finally { batch.unpersist(); () }
  }

  /** End-to-end reconciliation pipeline sink — the reference's flagship
    * shape run as ONE multi-stage streaming job: a replayed event
    * stream feeds the full-outer [[graft.streaming.StreamOps.reconStream]]
    * state (matched rows emit on arrival, unmatched on watermark
    * eviction), and every outcome micro-batch CDC-upserts into a
    * [[CowTable]]. Each outcome row carries a deterministic key built
    * from its leg ids, so a re-delivered batch (restart replay,
    * at-least-once source) merges onto the SAME keys instead of
    * duplicating — the table is effectively-once without any sink-side
    * dedup state. Serving reads (leg-match census, unmatched aging)
    * run against the TABLE's snapshot, not the stream — the
    * stream/table split Kafka Streams expresses as KStream→KTable.
    */
  def reconCdcPipeline(outcomes: DataFrame, tablePath: String,
                       checkpoint: String): StreamingQuery =
    perBatch(outcomes, checkpoint) { (batch, _) =>
      reconCdcBatch(batch, tablePath)
    }

  /** Per-micro-batch body of [[reconCdcPipeline]] (replay-contract
    * testable: re-merging the same keyed rows is content-idempotent).
    */
  private[graft] def reconCdcBatch(batch: DataFrame, tablePath: String): Unit = {
    if (!batch.isEmpty) {
      val keyed = batch.withColumn("rk",
        concat_ws("|",
          coalesce(col("a_id").cast("string"), lit("_")),
          coalesce(col("b_id").cast("string"), lit("_"))))
      if (!CowTable.exists(tablePath)) CowTable.create(keyed, tablePath)
      else CowTable.merge(batch.sparkSession, tablePath, keyed, "rk")
    }
    ()
  }

  /** STREAMING INGEST WITH ONLINE NEAR-DUP FLAGGING (round 9, hardened
    * round 10): the end-to-end shape of [[graft.ops.IncrementalDedup]]
    * — each micro-batch of documents is MERGEd into the corpus
    * CowTable, the persistent MinHash band index advances over the
    * resulting CDC feed (work bounded by the batch, never the corpus),
    * and the verified near-dup pairs involving the batch land under
    * `pairsOut/batch_id=<id>`. The first batch bootstraps corpus +
    * index AND flags its own within-batch pairs
    * ([[graft.ops.IncrementalDedup.selfPairs]]), so the pairs output
    * is batch-boundary INVARIANT — which batch a doc pair arrived in
    * never changes whether it is flagged (ADVICE r9).
    *
    * Exactly-once pair delivery (ADVICE r9, hardened r11): each
    * batch's pairs write lands under its own batch-id directory, and
    * the index-version marker advances only AFTER that write commits
    * ([[graft.ops.IncrementalDedup.ingestStaged]]). A crash at any
    * point replays the batch; the replay is idempotent in BOTH crash
    * windows:
    *   - crash BEFORE the pairs `_SUCCESS` marker: the un-advanced
    *     index marker re-derives the same CDC window and the overwrite
    *     replaces any partial pairs output instead of appending;
    *   - crash AFTER `_SUCCESS` (between sink completion and the
    *     stream's checkpoint commit): the corpus re-merge opens a new
    *     but content-identical version, the CDC feed from the
    *     already-advanced marker is empty — and the write is SKIPPED
    *     because `_SUCCESS` already exists, so the first attempt's
    *     pairs are preserved rather than overwritten by the empty
    *     replay window (ADVICE r10 high). The marker still re-commits
    *     so the next batch's CDC window starts after the no-op merge.
    */
  def incrementalDedupPipeline(docs: DataFrame, corpusPath: String,
                               indexPath: String, pairsOut: String,
                               blockCols: Seq[String],
                               checkpoint: String): StreamingQuery =
    perBatch(docs, checkpoint) { (batch, id) =>
      incrementalDedupBatch(batch, id, corpusPath, indexPath, pairsOut, blockCols)
    }

  /** LIVE ANN-INDEX MAINTENANCE (round 13): the streaming face of
    * [[graft.ops.IvfIndex]] — each micro-batch of vector upserts lands
    * in the corpus CowTable as ONE atomic MoR upsert stamped
    * `(appId, batchId)` ([[CowTable.upsertMorPos]] — positional
    * deletes of the replaced keys AND the new rows in the same
    * snapshot), and the persistent IVF index folds the resulting CDC
    * window in O(batch) via [[graft.ops.IvfIndex.refresh]] (drift
    * watch, threshold re-seed, crash repair — all of refresh's
    * contract applies per batch). The first batch bootstraps corpus +
    * index.
    *
    * Exactly-once under replay, with NO extra machinery: a
    * post-commit re-delivery hits the corpus txn watermark (upsert
    * no-ops, version unchanged), so refresh sees `fromV == toV` and
    * no-ops too — the double-delivery harness asserts byte-equal
    * corpus, assignment, and centroid state. Expected input columns:
    * `vec_id` + the vector column `ve`.
    */
  def ivfIngestStream(vectors: DataFrame, corpusPath: String,
                      indexPath: String, checkpoint: String,
                      numCells: Int = 16, iters: Int = 2,
                      maxDrift: Double = 0.2,
                      appId: String = "ivf-ingest",
                      sq8: Boolean = false): StreamingQuery =
    perBatch(vectors, checkpoint) { (batch, id) =>
      ivfIngestBatch(batch, id, corpusPath, indexPath,
        numCells, iters, maxDrift, appId, sq8)
    }

  /** The per-micro-batch body of [[ivfIngestStream]], exposed so the
    * replay contract is testable without streaming machinery.
    */
  private[graft] def ivfIngestBatch(batch: DataFrame, id: Long,
                                    corpusPath: String, indexPath: String,
                                    numCells: Int = 16, iters: Int = 2,
                                    maxDrift: Double = 0.2,
                                    appId: String = "ivf-ingest",
                                    sq8: Boolean = false): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    if (!CowTable.exists(corpusPath))
      CowTable.create(batch.limit(0), corpusPath) // schema-only skeleton
    CowTable.upsertMorPos(spark, corpusPath,
      batch.select("vec_id").distinct(), batch, txn = Some((appId, id)))
    if (!graft.ops.IvfIndex.exists(indexPath))
      // sq8 applies only at bootstrap: refresh auto-detects the list
      // encoding from the assign schema thereafter
      graft.ops.IvfIndex.buildIndex(spark, corpusPath, indexPath,
        numCells = numCells, iters = iters, sq8 = sq8)
    else {
      graft.ops.IvfIndex.refresh(spark, corpusPath, indexPath,
        maxDrift = maxDrift, numCells = numCells, iters = iters)
      ()
    }
  }

  /** TABLE→TABLE CHAINING CONSUMER: mirror a CowTable CDC FEED (the
    * [[graft.sources.CowCdcSourceProvider]] output — rows carrying
    * `_change_type`/`_commit_version`) into a downstream CowTable.
    * insert/update postimages upsert by `key`; delete preimages drop
    * their key — BOTH applied as ONE atomic commit
    * ([[CowTable.upsertMorPos]]: the changed keys' current rows pinned
    * by a positional sidecar, the postimages appended in the same
    * snapshot; a deleted key simply contributes no postimage).
    *
    * Exactly-once under replay: the batch's max `_commit_version` —
    * the UPSTREAM snapshot version, deterministic under the source's
    * replay-deterministic batches — rides the txn watermark, so a
    * re-delivered batch short-circuits before any write. The feed's
    * one-change-per-key-per-window contract makes the postimage set
    * key-unique by construction.
    */
  def cdcMirrorStream(feed: DataFrame, path: String, key: String,
                      checkpoint: String,
                      appId: String = "cdc-mirror"): StreamingQuery =
    perBatch(feed, checkpoint) { (batch, _) =>
      cdcMirrorBatch(batch, path, key, appId)
    }

  /** The per-micro-batch body of [[cdcMirrorStream]], exposed so the
    * replay contract is testable without streaming machinery.
    */
  private[graft] def cdcMirrorBatch(batch: DataFrame, path: String,
                                    key: String,
                                    appId: String = "cdc-mirror"): Unit = {
    // the CDC batch plan (manifest diff + classification joins) is
    // consumed several times below — materialize ONCE (the fanoutBatch
    // discipline; without it every pass re-runs the diff)
    val rows = batch.persist()
    try cdcMirrorBody(rows, path, key, appId)
    finally { rows.unpersist(); () }
  }

  private def cdcMirrorBody(batch: DataFrame, path: String, key: String,
                            appId: String): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val upstreamV = batch.agg(max(col("_commit_version"))).head.getInt(0).toLong
    if (CowTable.exists(path) && CowTable.txnVersion(path, appId) >= upstreamV)
      return // post-commit replay: metadata-priced no-op
    val payload = batch.columns.filterNot(c =>
      c == "_change_type" || c == "_commit_version").toIndexedSeq
    val adds = batch.filter(col("_change_type") =!= "delete")
      .select(payload.map(col): _*)
    if (!CowTable.exists(path))
      CowTable.create(adds.limit(0), path) // schema-only skeleton
    CowTable.upsertMorPos(spark, path,
      batch.select(key).distinct(), adds, txn = Some((appId, upstreamV)))
    ()
  }

  /** The per-micro-batch body of [[incrementalDedupPipeline]], exposed
    * so the replay contract is testable without streaming machinery:
    * calling it twice with the same (batch, id) — the post-commit
    * replay — must leave the pairs output exactly as the first call
    * did.
    */
  private[graft] def incrementalDedupBatch(batch: DataFrame, id: Long,
                                           corpusPath: String, indexPath: String,
                                           pairsOut: String,
                                           blockCols: Seq[String]): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    // Idempotent publish: parquet commits `_SUCCESS` last, so its
    // presence means a prior attempt fully delivered this batch's
    // pairs — skip the write (a pure post-commit replay would
    // otherwise overwrite them with its empty CDC window). No
    // marker, or a partial write without it, → overwrite replaces
    // whatever partial output exists.
    def writePairs(pairs: DataFrame): Unit = {
      val out = new Path(s"$pairsOut/batch_id=$id")
      val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new Path(out, "_SUCCESS")))
        pairs.write.mode(SaveMode.Overwrite).parquet(out.toString)
    }
    if (!CowTable.exists(corpusPath)) {
      CowTable.create(batch, corpusPath)
      graft.ops.IncrementalDedup.buildIndex(spark, corpusPath, indexPath, blockCols)
      val blocked = batch.select(col("doc_id"),
        concat_ws("", blockCols.map(col): _*).as("block"), col("text"))
      writePairs(graft.ops.IncrementalDedup.selfPairs(blocked))
    } else {
      CowTable.merge(spark, corpusPath, batch, "doc_id")
      val staged = graft.ops.IncrementalDedup
        .ingestStaged(spark, corpusPath, indexPath, blockCols)
      writePairs(staged.pairs)
      staged.commit()
    }
  }

  /** STREAMING DELETE SINK (round 10) — the right-to-be-forgotten
    * pipeline: a stream of deletion requests (one key column) applies
    * to a CowTable via MERGE-ON-READ per micro-batch. Each batch costs
    * one key-list sidecar commit — ZERO data files rewritten no matter
    * how scattered the keys, which is what makes a continuous GDPR
    * stream affordable against a 100 TB table (the copy-on-write
    * DELETE would rewrite every key-intersecting file every batch).
    * Replay-safe: deleteMorKeys drops keys that are not live, so a
    * re-delivered batch commits nothing new (no version churn — the
    * no-op returns the current version). Physical retirement is the
    * maintenance job's compact ([[graft.sinks.CowTable.compact]] folds
    * the accumulated sidecars).
    *
    * The target table MUST exist: a deletion request against a missing
    * table FAILS the batch (so the stream retries it after the table
    * appears) instead of consuming it — silently advancing the
    * checkpoint would drop right-to-be-forgotten keys forever
    * (ADVICE r10).
    */
  def gdprDeleteStream(requests: DataFrame, tablePath: String, key: String,
                       checkpoint: String): StreamingQuery =
    perBatch(requests, checkpoint) { (batch, _) =>
      gdprDeleteBatch(batch, tablePath, key)
    }

  /** Per-micro-batch body of [[gdprDeleteStream]] (replay-contract
    * testable: re-deleting non-live keys commits nothing).
    */
  private[graft] def gdprDeleteBatch(batch: DataFrame, tablePath: String,
                                     key: String): Unit = {
    if (!batch.isEmpty) {
      require(CowTable.exists(tablePath),
        s"gdprDeleteStream: target CowTable '$tablePath' does not exist; " +
          "failing the batch so the deletion requests are retried, not dropped")
      CowTable.deleteMorKeys(batch.sparkSession, tablePath, batch, key)
    }
    ()
  }

  /** STREAMING APPEND INGEST (round 11) — the plain event-log /
    * document-ingest sink onto the table format: each micro-batch
    * lands via [[CowTable.append]]'s insert-only fast path (data
    * written once; a concurrent writer costs a manifest rebase, never
    * a data rewrite), carrying `txn = (appId, batchId)` so a replayed
    * batch (crash between sink write and checkpoint commit) is a
    * NO-OP instead of a duplicate — exactly-once table content from an
    * at-least-once foreachBatch, with no key column required (contrast
    * [[reconCdcPipeline]]'s keyed merge). Multiple streams can ingest
    * into ONE table concurrently under distinct appIds: their txn
    * watermarks coexist and their appends rebase past each other.
    * The first non-empty batch bootstraps the table (empty skeleton +
    * transactional append, so the bootstrap itself is replay-safe).
    */
  def appendStream(stream: DataFrame, tablePath: String, checkpoint: String,
                   appId: String = "append-stream"): StreamingQuery =
    perBatch(stream, checkpoint) { (batch, id) =>
      appendBatch(batch, id, tablePath, appId)
    }

  /** Per-micro-batch body of [[appendStream]], exposed so the replay
    * contract is testable without streaming machinery: calling it
    * twice with the same (batch, id) must leave the table exactly as
    * the first call did.
    */
  private[graft] def appendBatch(batch: DataFrame, id: Long,
                                 tablePath: String, appId: String): Unit = {
    if (batch.isEmpty) return
    if (!CowTable.exists(tablePath))
      CowTable.create(batch.limit(0), tablePath) // schema-only skeleton
    CowTable.append(batch.sparkSession, tablePath, batch,
      txn = Some((appId, id)))
    ()
  }

  /** LIVE STREAM-TABLE ENRICHMENT (round 11) — the
    * KStream⋈GlobalKTable analogue with a table that actually CHANGES:
    * each micro-batch left-joins against the dimension CowTable's
    * CURRENT snapshot (re-read per batch — a plain stream-static join
    * pins the snapshot at query start), broadcast like a replicated
    * GlobalKTable (no co-partitioning), and lands in the output table
    * via the transactional append path (exactly-once under replay,
    * [[appendStream]]'s contract). A dimension update between batches
    * is visible to the NEXT batch — the lookup-table freshness
    * semantics Kafka Streams gives GlobalKTable joins.
    */
  def enrichAppendStream(stream: DataFrame, dimPath: String, key: String,
                         outPath: String, checkpoint: String,
                         appId: String = "enrich-stream"): StreamingQuery =
    perBatch(stream, checkpoint) { (batch, id) =>
      enrichAppendBatch(batch, id, dimPath, key, outPath, appId)
    }

  /** Per-micro-batch body of [[enrichAppendStream]] (replay-contract
    * testable: the inner transactional append makes a replay a no-op).
    */
  private[graft] def enrichAppendBatch(batch: DataFrame, id: Long,
                                       dimPath: String, key: String,
                                       outPath: String, appId: String): Unit = {
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      val dim = CowTable.read(spark, dimPath)
      val enriched = batch.join(
        org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")
      appendBatch(enriched, id, outPath, appId)
    }
    ()
  }

  /** KTable⋈KTable FOREIGN-KEY join emission (round 12) — the
    * streaming face of [[CowTable.incrementalJoinFk]] and the half
    * [[enrichAppendStream]] doesn't cover: there, FACT rows arrive and
    * look up the current dim; here, DIM UPSERTS arrive and the
    * already-landed view rows they fan out to are re-emitted — the
    * KIP-213 emission semantics (a dim-side update re-joins every fact
    * row whose join key is NOT the dirty key). Per micro-batch:
    *
    *   1. the latest row per dim key MERGEs into the dim CowTable;
    *   2. the fact rows with `fkCol` ∈ batch dim keys are found via
    *      the fact-side FK scan (KIP-213's subscription index,
    *      literal-IN pruned so a fact [[CowTable.cluster]]-ed by
    *      `fkCol` reads only the referencing files);
    *   3. those rows re-enrich against the NEW dim snapshot and MERGE
    *      into the view on the FACT key — exactly the fan-out rows
    *      rewrite; everything else carries over untouched.
    *
    * The view's shape is fact columns ++ dim non-key columns
    * ([[bootstrapFkView]] creates it with the same join). Replay-safe:
    * both merges are keyed and content-idempotent, so a re-delivered
    * batch converges to the same table state. A batch carrying several
    * versions of one dim key resolves DETERMINISTICALLY: pass
    * `versionCol` and the max-version row wins (Kafka-Streams
    * changelog latest-wins, ties broken by full-row struct order);
    * without one, distinct conflicting rows for a key fail the batch
    * loudly ([[latestPerKey]]) instead of merging an arbitrary
    * version. Dim DELETES are out of scope here — route them
    * through [[gdprDeleteStream]] against the dim plus a follow-up
    * re-emission touch; the upsert path is the KIP-213 common case.
    * New FACT rows keep flowing through [[enrichAppendStream]] into
    * the same view.
    */
  def fkDimFanoutStream(dimUpdates: DataFrame, dimPath: String,
                        factPath: String, viewPath: String,
                        factKey: String, fkCol: String, dimKey: String,
                        checkpoint: String,
                        literalMax: Int = 1024,
                        versionCol: Option[String] = None): StreamingQuery =
    perBatch(dimUpdates, checkpoint) { (batch, _) =>
      fkDimFanoutBatch(batch, dimPath, factPath, viewPath,
        factKey, fkCol, dimKey, literalMax, versionCol)
    }

  /** The FK-join view both [[fkDimFanoutStream]] and its spec use:
    * fact ⟕ dim on `fkCol = dimKey`, fact columns ++ dim payload.
    */
  def fkViewOf(fact: DataFrame, dim: DataFrame,
               fkCol: String, dimKey: String): DataFrame = {
    val d = dim.withColumnRenamed(dimKey, "__dimk")
    fact.join(org.apache.spark.sql.functions.broadcast(d),
        fact(fkCol) === d("__dimk"), "left")
      .drop("__dimk")
  }

  /** Materialize the initial FK-join view [[fkDimFanoutStream]]
    * maintains (fact ⟕ current dim, keyed by the fact key).
    */
  def bootstrapFkView(spark: org.apache.spark.sql.SparkSession,
                      factPath: String, dimPath: String, viewPath: String,
                      fkCol: String, dimKey: String): Int =
    CowTable.create(fkViewOf(CowTable.read(spark, factPath),
      CowTable.read(spark, dimPath), fkCol, dimKey), viewPath)

  /** Per-micro-batch body of [[fkDimFanoutStream]] (replay-contract
    * testable: both merges are keyed, a re-delivered batch converges).
    */
  private[graft] def fkDimFanoutBatch(batch: DataFrame, dimPath: String,
                                      factPath: String, viewPath: String,
                                      factKey: String, fkCol: String,
                                      dimKey: String,
                                      literalMax: Int = 1024,
                                      versionCol: Option[String] = None): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    require(CowTable.exists(viewPath),
      s"fkDimFanoutStream: view CowTable '$viewPath' does not exist; " +
        "bootstrapFkView it first — failing the batch so the dim updates retry")
    val latest = latestPerKey(batch, dimKey, versionCol)
    CowTable.merge(spark, dimPath, latest, dimKey)
    // KIP-213 subscription: dim dirty keys → referencing fact rows
    val keys = latest.select(dimKey).limit(literalMax + 1).collect().map(_.get(0))
    val fact = CowTable.read(spark, factPath)
    val dimNow = CowTable.read(spark, dimPath)
    val (touched, dimSlice) =
      if (keys.length <= literalMax && !keys.contains(null))
        (fact.filter(col(fkCol).isin(keys.toIndexedSeq: _*)),
         // only the batch's dim rows can re-enrich the touched facts —
         // never broadcast the whole dimension for a delta merge
         dimNow.filter(col(dimKey).isin(keys.toIndexedSeq: _*)))
      else
        (fact.join(latest.select(col(dimKey).as("__dk")),
           col(fkCol) === col("__dk"), "left_semi"),
         dimNow.join(latest.select(col(dimKey).as("__dk")),
           col(dimKey) === col("__dk"), "left_semi"))
    val refreshed = fkViewOf(touched, dimSlice, fkCol, dimKey)
    CowTable.merge(spark, viewPath, refreshed, factKey)
    ()
  }

  /** Deterministic per-key winner for a changelog micro-batch. With a
    * `versionCol` the max-version row wins (ties broken by the full row
    * via lexicographic struct-max — any two replicas pick the SAME
    * winner). Without one, exact-duplicate rows collapse and the batch
    * must then be unique per key — several DISTINCT rows sharing a key
    * fail loudly rather than let `dropDuplicates` keep an arbitrary
    * one and nondeterministically merge a stale dim version.
    */
  private[graft] def latestPerKey(batch: DataFrame, key: String,
                                  versionCol: Option[String]): DataFrame =
    versionCol match {
      case Some(v) =>
        require(batch.columns.contains(v),
          s"latestPerKey: version column '$v' absent from batch ${batch.columns.mkString("[", ",", "]")}")
        val payload = batch.columns.filterNot(_ == key).toIndexedSeq
        val ordered = v +: payload.filterNot(_ == v)
        batch.groupBy(col(key))
          .agg(max(struct(ordered.map(col): _*)).as("__w"))
          .select(col(key) +: payload.map(c => col(s"__w.`$c`").as(c)): _*)
          .select(batch.columns.toIndexedSeq.map(col): _*)
      case None =>
        val distinctRows = batch.distinct()
        val clashes = distinctRows.groupBy(col(key)).count()
          .filter(col("count") > 1).limit(5)
          .collect().map(_.get(0))
        require(clashes.isEmpty,
          s"latestPerKey: batch carries several distinct rows for key(s) ${clashes.mkString(", ")} " +
            s"on '$key' and no versionCol was given — the winner would be " +
            "nondeterministic. Pass versionCol (latest wins) or pre-dedupe upstream.")
        distinctRows
    }

  /** Small-file compaction — the table-maintenance job every
    * streaming-ingested 100 TB table needs: micro-batches leave
    * thousands of KB-scale files whose per-file open/footer overhead
    * dominates scans; this rewrites the directory into `targetFiles`
    * right-sized files (staging + atomic rename, same pattern as the
    * upsert sinks). Rows are preserved exactly; only layout changes.
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, path: String,
                     targetFiles: Int): Unit =
    stageAndSwap(spark.read.parquet(path).repartition(targetFiles), path, path + "__compact")

  /** Morton (Z-order) interleave of two 32-bit keys — the
    * multi-dimensional clustering key: sorting by it keeps rows close
    * in BOTH dimensions, so per-file min/max ranges narrow on both
    * columns and parquet row-group skipping prunes scans filtered on
    * EITHER column (single-column sort helps only its own column).
    * Pure Column arithmetic (5 spread-shift steps per key), stays in
    * codegen.
    */
  def mortonKey(a: Column, b: Column): Column = {
    // spread the low 32 bits of x to the even bit positions of a long
    def spread(x: Column): Column = {
      var v = x.bitwiseAND(lit(0xffffffffL))
      v = (v.bitwiseOR(shiftleft(v, 16))).bitwiseAND(lit(0x0000ffff0000ffffL))
      v = (v.bitwiseOR(shiftleft(v, 8))).bitwiseAND(lit(0x00ff00ff00ff00ffL))
      v = (v.bitwiseOR(shiftleft(v, 4))).bitwiseAND(lit(0x0f0f0f0f0f0f0f0fL))
      v = (v.bitwiseOR(shiftleft(v, 2))).bitwiseAND(lit(0x3333333333333333L))
      (v.bitwiseOR(shiftleft(v, 1))).bitwiseAND(lit(0x5555555555555555L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Z-ordered parquet layout: range-partition + sort by the Morton
    * key of two clustering columns, so every output file covers a
    * compact rectangle of the (a, b) space — the data-skipping layout
    * for tables filtered on more than one dimension.
    *
    * Both columns NORMALIZE to 16-bit [0, 65535] before interleaving
    * (one 4-scalar min/max aggregate): interleaving raw values lets
    * whichever column has more significant bits own every high bit of
    * the key, silently degenerating to a single-column sort — the
    * classic z-order pitfall.
    */
  def writeZordered(df: DataFrame, path: String, files: Int,
                    a: Column, b: Column): Unit = {
    val mm = df.agg(min(a).cast("double"), max(a).cast("double"),
                    min(b).cast("double"), max(b).cast("double"))
      .collect().head
    def norm(c: Column, mn: Double, mx: Double): Column =
      if (mx == mn) lit(0L)
      else ((c.cast("double") - mn) / (mx - mn) * 65535.0).cast("long")
    df.withColumn("__z", mortonKey(norm(a, mm.getDouble(0), mm.getDouble(1)),
                                   norm(b, mm.getDouble(2), mm.getDouble(3))))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Per-file min/max manifest — the data-skipping index layer that
    * sits ABOVE parquet's own row-group stats: after any clustered
    * write ([[writeZordered]], range-partitioned, or sorted), one scan
    * with `input_file_name()` records each file's span per skip
    * column into `<path>/_manifest`. [[readSkipping]] consults it to
    * open only files whose span intersects the predicate — at 100 TB
    * this is the difference between listing 100k footers and reading a
    * 100-row manifest (the mechanism behind Delta/Iceberg file
    * statistics, expressed on plain parquet).
    */
  def writeManifest(spark: org.apache.spark.sql.SparkSession, path: String,
                    cols: String*): Unit = {
    import org.apache.spark.sql.functions.{input_file_name, max => fmax, min => fmin}
    // min/max are stored in the column's NATIVE type: a cast to double
    // would round a >2^53 BIGINT max downward and let readSkipping
    // wrongly prune a file that contains matching rows (silent loss,
    // not a missed optimization)
    val aggs = cols.flatMap(c => Seq(
      fmin(col(c)).as(s"min_$c"), fmax(col(c)).as(s"max_$c")))
    spark.read.parquet(path)
      .withColumn("__file", input_file_name())
      .groupBy("__file")
      .agg(aggs.head, aggs.tail: _*)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/_manifest")
  }

  /** Manifest-pruned read: keep only files whose [min, max] span of
    * `c` intersects [lo, hi], then read exactly those. Returns the
    * pruned DataFrame and how many files were opened (for tests /
    * observability). The residual filter still applies — the manifest
    * only prunes, never decides membership.
    */
  def readSkipping(spark: org.apache.spark.sql.SparkSession, path: String,
                   c: String, lo: Double, hi: Double): (DataFrame, Int) = {
    import org.apache.spark.sql.functions.{ceil, floor}
    val manifest = spark.read.parquet(s"$path/_manifest")
    // the manifest stores native-typed spans; for integral columns
    // compare against floor(lo)/ceil(hi) so the bound literals never
    // tighten the interval when coerced (over-approximate = safe:
    // the residual filter below still decides membership)
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val (loB, hiB) = manifest.schema(s"max_$c").dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        (floor(lit(lo)), ceil(lit(hi)))
      case _ => (lit(lo), lit(hi))
    }
    val files = manifest
      .filter(col(s"max_$c") >= loB && col(s"min_$c") <= hiB)
      .select("__file").collect().map(_.getString(0))
    val df =
      if (files.isEmpty) spark.read.parquet(path).filter(lit(false))
      else spark.read.parquet(files.toIndexedSeq: _*)
    (df.filter(col(c) >= lo && col(c) <= hi), files.length)
  }

  /** Streaming SCD2 sink — the dimension-HISTORY counterpart of
    * [[upsertParquet]] (which keeps only the latest row per key): every
    * incoming event opens a new version of its key and closes the
    * previous one, so the table holds [valid_from, valid_to) intervals
    * with exactly one open (valid_to = null) version per key — the
    * batch `scd2_user_state` operator's table, maintained
    * incrementally. valid_to is RECOMPUTED from the union per batch
    * (lead over valid_from), which makes the sink idempotent under
    * batch replay: re-merging the same events changes nothing
    * (dedup on (key, valid_from)). Same bounded-scale
    * read-union-rewrite caveat as [[upsertParquet]]; a production
    * deployment swaps in a transactional MERGE keyed the same way —
    * the commit protocol and copy-on-write pruning that upgrade
    * requires are expressed in-repo by [[CowTable]].
    */
  def scd2Parquet(stream: DataFrame, path: String, checkpoint: String,
                  keyCol: String, tsCol: String): StreamingQuery =
    perBatch(stream, checkpoint) { (batch, _) =>
      scd2Batch(batch, path, keyCol, tsCol)
    }

  /** Per-micro-batch body of [[scd2Parquet]] (replay-contract
    * testable: dropDuplicates on (key, valid_from) absorbs a replay).
    */
  private[graft] def scd2Batch(batch: DataFrame, path: String,
                               keyCol: String, tsCol: String): Unit = {
    val incoming = batch.withColumnRenamed(tsCol, "valid_from")
    val current = stored(batch.sparkSession, path).map(_.drop("valid_to"))
      .getOrElse(incoming.limit(0))
    val w = Window.partitionBy(keyCol).orderBy("valid_from")
    val versions = current.unionByName(incoming)
      .dropDuplicates(keyCol, "valid_from")
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
    stageAndSwap(versions, path, path + "__stage")
  }

  /** CDC-apply sink — [[upsertParquet]] with TOMBSTONES: each change
    * row carries an `opCol` ('delete' = tombstone, anything else =
    * upsert); per batch the latest change per key wins and keys whose
    * latest change is a tombstone are dropped from the view. The
    * tombstone itself is RETAINED in the view's lineage only within
    * the batch merge (the stored table keeps live rows plus nothing) —
    * a later upsert resurrects the key, exactly the KTable-changelog
    * contract. Batch twin: the `stream_cdc_apply` operator. Same
    * bounded-scale rewrite caveat as [[upsertParquet]].
    */
  def cdcApplyParquet(stream: DataFrame, path: String, checkpoint: String,
                      keyCol: String, tsCol: String, opCol: String): StreamingQuery =
    perBatch(stream, checkpoint) { (batch, _) =>
      cdcApplyBatch(batch, path, keyCol, tsCol, opCol)
    }

  /** Per-micro-batch body of [[cdcApplyParquet]] (replay-contract
    * testable: latest-change-per-key-wins absorbs a replay).
    */
  private[graft] def cdcApplyBatch(batch: DataFrame, path: String,
                                   keyCol: String, tsCol: String,
                                   opCol: String): Unit = {
    // stored live rows re-enter the merge as upserts at their
    // original change time, so a NEWER tombstone in the batch
    // deletes them and an OLDER one (late replay) does not
    val current = stored(batch.sparkSession, path).getOrElse(batch.limit(0))
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol).desc, col(keyCol))
    val merged = current.unionByName(batch)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(opCol) =!= "delete")
      .drop("__rn")
    stageAndSwap(merged, path, path + "__stage")
  }

  /** Streaming upsert sink (`KTable` materialization): per micro-batch,
    * merge the batch into a keyed parquet view keeping the latest row
    * per key by `tsCol`. The merge here is read-union-dedup-rewrite via
    * a staging directory — correct and idempotent for the bounded
    * scales this repo runs at; a production deployment swaps the body
    * for a transactional MERGE INTO (Delta/Iceberg) with the same
    * (key, ts) semantics.
    */
  def upsertParquet(stream: DataFrame, path: String, checkpoint: String,
                    keyCol: String, tsCol: String): StreamingQuery =
    perBatch(stream, checkpoint) { (batch, _) =>
      upsertBatch(batch, path, keyCol, tsCol)
    }

  /** Per-micro-batch body of [[upsertParquet]] (replay-contract
    * testable: latest-row-per-key-wins absorbs a replay).
    */
  private[graft] def upsertBatch(batch: DataFrame, path: String,
                                 keyCol: String, tsCol: String): Unit = {
    val current = stored(batch.sparkSession, path).getOrElse(batch.limit(0))
    val w = Window.partitionBy(keyCol)
      .orderBy(col(tsCol).desc, col(keyCol))
    val merged = current.unionByName(batch)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    stageAndSwap(merged, path, path + "__stage")
  }
}
