package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-crossover experiment for the near-dup operators: replicates
  * the sf0.1 documents 20× (~100k docs) with per-copy unique token
  * suffixes (8 fresh tokens ⇒ cross-copy Jaccard ≈ 0.76 < 0.9, so the
  * true-pair structure stays sparse while candidate volume grows), then
  * times the O(n²)-blocked exact join vs the MinHash-LSH path on the
  * same data. Writes the corpus to /tmp; results recorded in PLANS.md.
  *
  * Run: `sbt "runMain graft.ScaleBench"`
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    // extensions installed so the `rule` section can toggle the
    // config-gated rewrites; every rule defaults OFF, so the other
    // sections see stock plans
    val spark = Sessions.builder("local[16]", 16)
      .withExtensions(new GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // `runMain graft.ScaleBench het` runs ONLY the round-7
    // heterogeneous-corpus section; no args runs the full battery
    val only = args.headOption
    require(only.forall(Set("het", "ivm", "ivmj", "fkj", "ivf", "stats", "asof", "inc", "rule", "mor", "app", "band", "skew", "lookup", "spj", "cdc", "upd", "dpp", "mfa", "mft", "wrt", "zow").contains),
      s"unknown section '${only.getOrElse("")}' — supported: het | ivm | ivmj | fkj | ivf | stats | asof | inc | rule | mor | app | band | skew | lookup | spj | cdc | upd | dpp | mfa | mft | wrt " +
        "(no arg = full run; `asof` runs ONLY when named — its 4M/2M hot-key " +
        "cogroup comparison is too heavy for the default battery)")

    if (only.forall(_ == "rule")) {
    // ---- round-9: AsOfRewriteRule's win condition, measured ------------
    // The rule's class doc claims the merge exec's win is the avoided
    // candidate blowup at long-lived keys — "a property the local
    // optimizer cannot observe" at bench scale. This fixture makes it
    // observable: 200k left / 100k right rows with 20% of BOTH legs on
    // one hot key. The natural agg-join shape materializes
    // ~40k × 20k / 2 candidate pairs INSIDE one key group (one task —
    // skew concentrates the quadratic work); the rewritten plan sweeps
    // the same key in O(rows). Same rows proven by checksum.
    val lp = "/tmp/graft_scalebench_rule_l"
    val rp = "/tmp/graft_scalebench_rule_r"
    spark.range(200000L).select(
        col("id").as("lid"),
        when(pmod(col("id"), lit(5)) === 0, 7L)
          .otherwise(pmod(xxhash64(col("id")), lit(2000L))).as("key"),
        (pmod(xxhash64(col("id") + 1), lit(1000000000L)) * 4).as("lts"))
      .write.mode("overwrite").parquet(lp)
    spark.range(100000L).select(
        col("id").as("rid"),
        when(pmod(col("id"), lit(5)) === 0, 7L)
          .otherwise(pmod(xxhash64(col("id") + 2), lit(2000L))).as("rkey"),
        (pmod(xxhash64(col("id") + 3), lit(1000000000L)) * 4 + 2).as("rts"))
      .write.mode("overwrite").parquet(rp)
    def natural() = {
      val l = spark.read.parquet(lp)
      val r = spark.read.parquet(rp)
      l.join(r, col("key") === col("rkey") && col("rts") <= col("lts"))
        .groupBy("lid")
        .agg(max(struct(col("rts"), col("rid"))).getField("rid").as("last_rid"))
    }
    def measure(name: String): (Long, Long) = {
      val t0 = System.nanoTime()
      val chk = natural().agg(count(lit(1)), sum(expr("lid * 31 + last_rid")))
        .collect().head
      println(f"[scalebench] rule $name%-14s rows=${chk.getLong(0)}%8d  " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s")
      (chk.getLong(0), chk.getLong(1))
    }
    spark.conf.set("spark.graft.asofRewrite", "false")
    val off = measure("natural(OFF)")
    spark.conf.set("spark.graft.asofRewrite", "true")
    val plan = natural().queryExecution.executedPlan.toString
    require(plan.contains("AsOfMerge"), "rule did not fire on the fixture shape")
    val on = measure("rewritten(ON)")
    require(off == on, s"rewrite changed the result: $off vs $on")
    println("[scalebench] rule rewritten == natural (count + checksum)")
    // round 10: the FORWARD mirror (first-after, min-struct over strict
    // >) on the same hot-key fixture — identical candidate blowup in
    // the natural shape, same O(rows) sweep when rewritten
    def naturalFwd() = {
      val l = spark.read.parquet(lp)
      val r = spark.read.parquet(rp)
      l.join(r, col("key") === col("rkey") && col("rts") > col("lts"))
        .groupBy("lid")
        .agg(min(struct(col("rts"), col("rid"))).getField("rid").as("first_rid"))
    }
    def measureFwd(name: String): (Long, Long) = {
      val t0 = System.nanoTime()
      val chk = naturalFwd().agg(count(lit(1)), sum(expr("lid * 31 + first_rid")))
        .collect().head
      println(f"[scalebench] rule $name%-14s rows=${chk.getLong(0)}%8d  " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s")
      (chk.getLong(0), chk.getLong(1))
    }
    spark.conf.set("spark.graft.asofRewrite", "false")
    val offF = measureFwd("fwd natural")
    spark.conf.set("spark.graft.asofRewrite", "true")
    val planF = naturalFwd().queryExecution.executedPlan.toString
    require(planF.contains("AsOfMerge"), "forward rule did not fire on the fixture shape")
    val onF = measureFwd("fwd rewritten")
    require(offF == onF, s"forward rewrite changed the result: $offF vs $onF")
    println("[scalebench] rule forward rewritten == natural (count + checksum)")
    // rule defaults OFF — restore so later full-run sections see stock plans
    spark.conf.set("spark.graft.asofRewrite", "false")
    } // end rule section

    if (only.forall(_ == "mor")) {
    // ---- round-10: merge-on-read vs copy-on-write deletes ---------------
    // The claim under test: a small scattered delete (the GDPR shape —
    // one key per data file is the CoW worst case) costs the MoR path
    // ONE sidecar write regardless of table layout, while the CoW path
    // rewrites every key-intersecting file. 5M rows in 64
    // range-partitioned files; 640 scattered keys touch all 64.
    import graft.sinks.CowTable
    val morRoot = s"/tmp/graft_scalebench_mor_${System.nanoTime()}"
    def freshTable(p: String): Unit = {
      spark.range(5000000L).select(col("id"),
          (col("id") * 7 % 1000).as("grp"),
          concat(lit("payload_"), col("id")).as("s"))
        .repartitionByRange(64, col("id"))
        .write.mode("overwrite").parquet(s"$p/stage")
      CowTable.create(spark.read.parquet(s"$p/stage"), p)
    }
    val (cowP, morP) = (s"$morRoot/cow", s"$morRoot/mor")
    freshTable(cowP); freshTable(morP)
    val pred = "id % 7812 = 11" // ~640 keys, one per ~file
    def dataFilesWritten(p: String): Int =
      (CowTable.snapshotFiles(p, Some(2)).toSet --
        CowTable.snapshotFiles(p, Some(1)).toSet).size
    def dataFilesRetired(p: String): Int =
      (CowTable.snapshotFiles(p, Some(1)).toSet --
        CowTable.snapshotFiles(p, Some(2)).toSet).size
    val t0 = System.nanoTime()
    CowTable.delete(spark, cowP, pred)
    val cowSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    CowTable.deleteMor(spark, morP, pred, "id")
    val morSec = (System.nanoTime() - t1) / 1e9
    val (cowW, morW) = (dataFilesWritten(cowP), dataFilesWritten(morP))
    val (cowN, morN) = (CowTable.read(spark, cowP).count(),
                        CowTable.read(spark, morP).count())
    val totalFiles = CowTable.snapshotFiles(cowP, Some(1)).size
    println(f"[scalebench] mor cow-delete  ${cowSec}%6.2f s  data files written=$cowW%3d " +
      f"(rewrote ${dataFilesRetired(cowP)}%2d of $totalFiles — every key-intersecting file)")
    println(f"[scalebench] mor mor-delete  ${morSec}%6.2f s  data files written=$morW%3d " +
      f"(sidecars=${CowTable.snapshotDeletes(morP).size})")
    require(cowN == morN, s"row counts diverge: cow=$cowN mor=$morN")
    require(morW == 0, "MoR delete must write zero data files")
    // and the fold: compact retires the rows physically, read unchanged
    val t2 = System.nanoTime()
    CowTable.compact(spark, morP, 64)
    val foldSec = (System.nanoTime() - t2) / 1e9
    require(CowTable.read(spark, morP).count() == morN)
    require(CowTable.snapshotDeletes(morP).isEmpty)
    println(f"[scalebench] mor fold(compact) ${foldSec}%6.2f s  rows=$morN " +
      f"(speedup cow/mor delete = ${cowSec / morSec}%.1f x)")
    } // end mor section

    if (only.forall(_ == "app")) {
    // ---- round-11: insert-only ingest — append vs merge --------------
    // The claim under test: merge's upsert machinery pays a key-column
    // scan of the WHOLE table per batch just to discover that a fresh
    // batch touches nothing, while append is O(batch) — write the new
    // files, link the manifest. For a high-frequency ingest stream into
    // a 100 TB table that scan IS the bill; this makes it observable at
    // 5M rows. Both paths must agree exactly on the final table.
    import graft.sinks.CowTable
    val appRoot = s"/tmp/graft_scalebench_app_${System.nanoTime()}"
    def freshT(p: String): Unit = {
      spark.range(5000000L).select(col("id"),
          concat(lit("payload_"), col("id")).as("s"))
        .repartitionByRange(64, col("id"))
        .write.mode("overwrite").parquet(s"$p/stage")
      CowTable.create(spark.read.parquet(s"$p/stage"), p)
    }
    val (mrgP, appP) = (s"$appRoot/merge", s"$appRoot/append")
    freshT(mrgP); freshT(appP)
    def batch(i: Long) = spark.range(10000L).select(
      (col("id") + 10000000L + i * 100000L).as("id"),
      concat(lit("fresh_"), col("id")).as("s"))
    val t0 = System.nanoTime()
    (0L until 4L).foreach(i => CowTable.merge(spark, mrgP, batch(i), "id"))
    val mrgSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    (0L until 4L).foreach(i =>
      CowTable.append(spark, appP, batch(i), txn = Some(("scalebench", i))))
    val appSec = (System.nanoTime() - t1) / 1e9
    val (mn, an) = (CowTable.read(spark, mrgP).count(), CowTable.read(spark, appP).count())
    require(mn == an && an == 5040000L, s"ingest results diverge: merge=$mn append=$an")
    // replayed batch: watermark makes it free AND a no-op
    val vBefore = CowTable.currentVersion(appP)
    val t2 = System.nanoTime()
    CowTable.append(spark, appP, batch(3L), txn = Some(("scalebench", 3L)))
    val repSec = (System.nanoTime() - t2) / 1e9
    require(CowTable.currentVersion(appP) == vBefore &&
      CowTable.read(spark, appP).count() == an, "replay must be a no-op")
    println(f"[scalebench] app merge-ingest  4×10k rows  ${mrgSec}%6.2f s  " +
      "(key-column scan of the full table per batch)")
    println(f"[scalebench] app append-ingest 4×10k rows  ${appSec}%6.2f s  " +
      f"(O(batch); speedup = ${mrgSec / appSec}%.1f x)")
    println(f"[scalebench] app replayed txn batch        ${repSec}%6.3f s  (watermark no-op)")
    } // end app section

    if (only.forall(_ == "band")) {
    // ---- round-11: BandJoinRule's win condition, measured -------------
    // The rule doc claims the bucketed rewrite wins when BOTH sides are
    // fact-sized (nested-loop = O(n·m) predicate evaluations; banding =
    // input + near-band pairs). 200k × 100k rows, values uniform on
    // [0, 1e9), band ±500 — ~2·10¹⁰ nested-loop comparisons vs ~20k
    // true pairs. Same rows proven by count + checksum.
    val bl = "/tmp/graft_scalebench_band_l"
    val br = "/tmp/graft_scalebench_band_r"
    spark.range(200000L).select(col("id").as("lid"),
        pmod(xxhash64(col("id")), lit(1000000000L)).cast("double").as("lv"))
      .write.mode("overwrite").parquet(bl)
    spark.range(100000L).select(col("id").as("rid"),
        pmod(xxhash64(col("id") + 7), lit(1000000000L)).cast("double").as("rv"))
      .write.mode("overwrite").parquet(br)
    def bandJoin() = {
      val l = spark.read.parquet(bl)
      val r = spark.read.parquet(br)
      l.join(r, col("lv") >= col("rv") - 500.0 && col("lv") <= col("rv") + 500.0)
        .agg(count(lit(1)).as("n"), sum(expr("lid * 31 + rid")).as("chk"))
    }
    def measureBand(name: String): (Long, Long) = {
      val t0 = System.nanoTime()
      val row = bandJoin().collect().head
      println(f"[scalebench] band $name%-14s pairs=${row.getLong(0)}%8d  " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s")
      (row.getLong(0), row.getLong(1))
    }
    spark.conf.set("spark.graft.bandJoinRewrite", "false")
    val bandOff = measureBand("nested(OFF)")
    spark.conf.set("spark.graft.bandJoinRewrite", "true")
    val bandPlan = bandJoin().queryExecution.executedPlan.toString
    require(bandPlan.contains("__bandb"), "band rule did not fire on the fixture")
    val bandOn = measureBand("bucketed(ON)")
    spark.conf.set("spark.graft.bandJoinRewrite", "false")
    require(bandOff == bandOn, s"rewrite changed the result: $bandOff vs $bandOn")
    println("[scalebench] band bucketed == nested (count + checksum)")
    } // end band section

    if (only.forall(_ == "inc")) {
    // ---- round-9: incremental (new-batch × index) dedup vs recompute ----
    // The claim under test: a daily batch costs signatures + candidate
    // work proportional to the BATCH, while the full recompute pays
    // the whole corpus again. Corpus: 100k docs, 30 tokens each from a
    // 50k vocabulary (the het regime — random pairs share ~0 tokens).
    // Batch: 1000 docs, 500 of them planted near-copies (J ≈ 0.935) of
    // corpus docs in the same (lang, source) block — so the TRUE pair
    // set is exactly the 500 planted cross-batch pairs, and the
    // incremental result must equal the full recompute's.
    import graft.ops.IncrementalDedup
    import graft.sinks.CowTable
    import graft.functions.VectorFunctions.sorted_jaccard
    val root = s"/tmp/graft_scalebench_inc_${System.nanoTime()}"
    val (corpusPath, indexPath) = (s"$root/corpus", s"$root/index")
    val nBase = 100000L
    val tokOf = (idCol: String) => "transform(sequence(0, 29), j -> concat('w', cast(" +
      s"pmod(cast(conv(substring(md5(concat($idCol, '_', j)), 1, 8), 16, 10) as bigint), 50000) as string)))"
    val langA = "array('en', 'de', 'fr', 'es', 'zh')"
    val srcA = "array('web', 'wiki', 'book', 'code')"
    def withBlock(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("lang", expr(s"element_at($langA, cast(bid % 5 + 1 as int))"))
      .withColumn("source", expr(s"element_at($srcA, cast(bid % 4 + 1 as int))"))
    val baseDocs = withBlock(spark.range(nBase).select(col("id").as("bid")))
      .select(col("bid").as("doc_id"), array_join(expr(tokOf("bid")), " ").as("text"),
              col("lang"), col("source"))
    // batch: ids 2n.., first 500 near-copy corpus doc bid=i*100 (29/31
    // shared tokens, same block), rest fresh vocab draws
    val batchDocs = withBlock(spark.range(1000L)
        .select(col("id").as("i"), (col("id") * 100).as("bid"),
                (col("id") + 2 * nBase).as("doc_id")))
      .withColumn("text",
        when(col("i") < 500,
          array_join(expr(s"concat(slice(${tokOf("bid")}, 1, 29), array(concat('d', doc_id)))"), " "))
        .otherwise(array_join(expr(tokOf("doc_id")), " ")))
      .select("doc_id", "text", "lang", "source")
    CowTable.create(baseDocs, corpusPath)
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val a = f
      println(f"[scalebench] inc $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); a
    }
    t("build-index(100k)") {
      IncrementalDedup.buildIndex(spark, corpusPath, indexPath, Seq("lang", "source"))
    }
    CowTable.merge(spark, corpusPath, batchDocs, "doc_id")
    val incPairs = t("ingest(1k batch)") {
      IncrementalDedup.ingest(spark, corpusPath, indexPath, Seq("lang", "source"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // full recompute: signatures + band self-join + verify over the
    // WHOLE 101k corpus — what a pipeline without the index pays daily
    val fullPairs = t("full-recompute(101k)") {
      val all = CowTable.read(spark, corpusPath)
        .select(col("doc_id"),
          concat_ws("", col("lang"), col("source")).as("block"), col("text"))
      val sg = IncrementalDedup.signatures(all)
      val bd = sg.select(col("doc_id"), col("block"),
        posexplode(col("bands")).as(Seq("bi", "bk")))
      val cand = bd.as("a").hint("shuffle_hash")
        .join(bd.as("b"), col("a.block") === col("b.block") &&
          col("a.bi") === col("b.bi") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .dropDuplicates("a_id", "b_id")
      val tk = all.select(col("doc_id"),
        array_sort(array_distinct(split(col("text"), " "))).as("tk"))
      cand
        .join(tk.select(col("doc_id").as("a_id"), col("tk").as("a_tk")), "a_id")
        .join(tk.select(col("doc_id").as("b_id"), col("tk").as("b_tk")), "b_id")
        .filter(sorted_jaccard(col("a_tk"), col("b_tk")) >= 0.9)
        .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    }
    val crossBatch = fullPairs.filter { case (a, b) => a >= 2 * nBase || b >= 2 * nBase }
    require(incPairs == crossBatch,
      s"incremental ${incPairs.size} != full-restricted ${crossBatch.size}")
    println(s"[scalebench] inc pairs=${incPairs.size} (planted 500) " +
      s"equal-to-full-restricted=true")
    } // end inc section

    if (only.contains("asof")) {
    // ---- round-7 session 3: as-of merge exec vs cogroup at a hot key ----
    // The claim under test: AsOfMergeExec's per-partition sweep holds
    // O(1) state, so a pathological key costs only its sort; the
    // cogroup form buffers BOTH legs of the key as in-memory arrays.
    // 4M left / 2M right rows with 80% of both legs on ONE key.
    import graft.ops.AsOf
    def legL = spark.range(4000000L).select(
      col("id").as("lid"),
      when(pmod(col("id"), lit(5)) < 4, 7L)
        .otherwise(pmod(xxhash64(col("id")), lit(10000L))).as("key"),
      (pmod(xxhash64(col("id") + 1), lit(1000000000L)) * 4).as("lts"))
    def legR = spark.range(2000000L).select(
      col("id").as("rid"),
      when(pmod(col("id"), lit(5)) < 4, 7L)
        .otherwise(pmod(xxhash64(col("id") + 2), lit(10000L))).as("rkey"),
      (pmod(xxhash64(col("id") + 3), lit(1000000000L)) * 4 + 2).as("rts"))
    val lPath = "/tmp/graft_scalebench_asof_l"
    val rPath = "/tmp/graft_scalebench_asof_r"
    legL.write.mode("overwrite").parquet(lPath)
    legR.write.mode("overwrite").parquet(rPath)
    val l = spark.read.parquet(lPath)
    val r = spark.read.parquet(rPath)
    def time(name: String)(f: => Long): Long = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[scalebench] asof $name%-18s rows=$n%9d  ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      n
    }
    val nExec = time("merge-exec") {
      AsOf.asofMergePlan(l, r, "key", "lts", "rkey", "rts").count()
    }
    val nCogroup = time("cogroup") {
      AsOf.asofLastPrior(
        l.select(col("lid").as("id"), col("key"), col("lts").as("ts")),
        r.select(col("rid").as("id"), col("rkey").as("key"), col("rts").as("ts"))).count()
    }
    require(nExec == nCogroup, s"asof forms disagree: $nExec vs $nCogroup")
    // spot equality on content, not just count: checksum the matched ids
    val x1 = AsOf.asofMergePlan(l, r, "key", "lts", "rkey", "rts")
      .agg(sum(expr("lid * 31 + rid")).cast("long")).head.getLong(0)
    val x2 = AsOf.asofLastPrior(
        l.select(col("lid").as("id"), col("key"), col("lts").as("ts")),
        r.select(col("rid").as("id"), col("rkey").as("key"), col("rts").as("ts")))
      .agg(sum(expr("purchase_id * 31 + last_signup_id")).cast("long")).head.getLong(0)
    require(x1 == x2, s"asof checksums disagree: $x1 vs $x2")
    println("[scalebench] asof content checksums equal")
    spark.stop(); return
    }

    if (only.forall(_ == "ivm")) {
    // ---- round-7: incremental view maintenance at 50M rows ---------------
    // The claim under test: refresh reads follow the DELTA, not the
    // table. 50M-row CowTable (5k groups, 32 grp-clustered files), a
    // 1k-row append window touching 32 groups; refresh the census
    // incrementally vs recompute it from the full snapshot. Honest
    // local finding (PLANS.md): BOTH paths sit on the ~0.2 s/job local
    // floor here (incremental = 4 sequential jobs ≈ 1.0 s, full = one
    // 0.67 s scan); the structural win — literal-IN dirty recompute +
    // clustered layout prunes untouched files, so incremental reads
    // stay flat while the full scan grows with the table — is what
    // transfers to cluster scale.
    import graft.sinks.CowTable
    val ivmDir = "/tmp/graft_scalebench_ivm"
    val root = java.nio.file.Paths.get(ivmDir)
    if (java.nio.file.Files.exists(root)) graft.sinks.CowCatalog.deleteTree(root)
    def aggOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("grp").agg(count(lit(1)).as("n"),
                            sum("v").cast("long").as("s"))
    CowTable.create(
      spark.range(50000000L).select(col("id"), (col("id") % 5000).as("grp"),
                                    pmod(xxhash64(col("id")), lit(1000000L)).as("v"))
        .repartition(32), ivmDir)
    // layout matters: grp-clustered files give the literal-IN dirty
    // recompute real footer pruning (untouched files skip entirely)
    val v1 = CowTable.cluster(spark, ivmDir, files = 32, zcols = Seq("grp"))
    val mv = aggOf(CowTable.read(spark, ivmDir, Some(v1))).cache()
    mv.count()
    // append-shaped window (the streaming-ingest norm): 1k NEW rows in
    // 32 groups — merge carries every existing file by reference, so
    // the delta is one small file and 32 groups go dirty
    val ups = spark.range(1000L)
      .select((col("id") + 100000000L).as("id"), (col("id") % 32).as("grp"),
              lit(0L).as("v"))
    val v2 = CowTable.merge(spark, ivmDir, ups, "id")
    val tI0 = System.nanoTime()
    val nIncr = CowTable.incrementalAgg(spark, ivmDir, "grp", mv, v1, v2)(aggOf).count()
    val tIncr = (System.nanoTime() - tI0) / 1e9
    val tF0 = System.nanoTime()
    val nFull = aggOf(CowTable.read(spark, ivmDir, Some(v2))).count()
    val tFull = (System.nanoTime() - tF0) / 1e9
    println(f"[scalebench] ivm @ 50M rows/5k groups, 1k-row append window: " +
      f"incremental ${tIncr}%5.2f s vs full recompute ${tFull}%5.2f s " +
      f"-> ${tFull / tIncr}%.1f x (rows: $nIncr vs $nFull)")
    } // end ivm section

    if (only.forall(_ == "ivmj")) {
    // ---- round-11: incrementally-maintained JOIN view ------------------
    // Same claim as `ivm`, for the two-table join view: refresh work
    // follows the DELTA on either side, not either table. 20M-row fact
    // (id-keyed, id-clustered) full-outer-joined to a 20M-row dim on
    // id; a 1k-key window (500 dim re-tiers + 500 fact upserts) goes
    // dirty; incrementalJoin vs joining both full snapshots.
    import graft.sinks.CowTable
    val jDir = "/tmp/graft_scalebench_ivmj"
    val jRoot = java.nio.file.Paths.get(jDir)
    if (java.nio.file.Files.exists(jRoot)) graft.sinks.CowCatalog.deleteTree(jRoot)
    val (pa, pb) = (s"$jDir/fact", s"$jDir/dim")
    def joinOf(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.join(b, Seq("id"), "full").select(col("id"), col("v"), col("tier"))
    CowTable.create(spark.range(20000000L).select(col("id"),
        pmod(xxhash64(col("id")), lit(1000000L)).as("v")).repartition(32), pa)
    CowTable.create(spark.range(20000000L).select(col("id"),
        pmod(col("id"), lit(5)).cast("string").as("tier")).repartition(32), pb)
    val ja1 = CowTable.cluster(spark, pa, files = 32, zcols = Seq("id"))
    val jb1 = CowTable.cluster(spark, pb, files = 32, zcols = Seq("id"))
    val jmv = joinOf(CowTable.read(spark, pa, Some(ja1)),
                     CowTable.read(spark, pb, Some(jb1))).cache()
    jmv.count()
    // two-sided window in the shapes that keep dirtiness KEY-granular:
    // an append on the fact (pure insert — one small file, no rewrite)
    // and a MoR key-delete on the dim (sidecar only — no file moves;
    // dirty keys come from the sidecar diff exactly). A scattered
    // UPSERT instead would rewrite every clustered file and honestly
    // flag the whole rewritten span dirty — that path measures as a
    // full recompute by design, see the dirty-superset rule.
    val ja2 = CowTable.append(spark, pa, spark.range(500L)
      .select((col("id") + 20000000L).as("id"), lit(-1L).as("v")))
    val jb2 = CowTable.deleteMorKeys(spark, pb, spark.range(500L)
      .select((col("id") * 7 + 100).as("id")), "id")
    val tJ0 = System.nanoTime()
    val nJ = CowTable.incrementalJoin(spark, pa, pb, "id", jmv,
      ja1, ja2, jb1, jb2)(joinOf).count()
    val tJ = (System.nanoTime() - tJ0) / 1e9
    val tJF0 = System.nanoTime()
    val nJF = joinOf(CowTable.read(spark, pa, Some(ja2)),
                     CowTable.read(spark, pb, Some(jb2))).count()
    val tJF = (System.nanoTime() - tJF0) / 1e9
    require(nJ == nJF, s"join view diverged: $nJ vs $nJF")
    println(f"[scalebench] ivmj @ 20M x 20M, 1k-key two-sided window: " +
      f"incremental ${tJ}%5.2f s vs full join ${tJF}%5.2f s " +
      f"-> ${tJF / tJ}%.1f x (rows: $nJ)")
    } // end ivmj section

    if (only.forall(_ == "fkj")) {
    // ---- round-12: KIP-213 FK join view, emission-path maintenance -----
    // The claim that matters at 100 TB: a dim-side update's MAINTENANCE
    // cost on a materialized FK-join view is dim-delta x fan-out, never
    // O(fact). (Counting a refreshed view DataFrame is O(view) in ANY
    // engine -- that measures serving, not maintenance -- so this bench
    // times the table-maintenance path: Sinks.fkDimFanoutBatch merging
    // exactly the fan-out rows into the view CowTable, vs recomputing
    // and rewriting the whole view.) Layout is the TPC-H-ish reality:
    // a 40M-row fact clustered by its FK (a customer's orders are
    // adjacent), cust = oid / 10 (fan-out 10), 4M-row NON-broadcastable
    // dim; a micro-batch of 8 dim upserts fans out to 80 view rows in
    // at most 8 of 256 view files.
    import graft.sinks.{CowTable, Sinks}
    val kDir = "/tmp/graft_scalebench_fkj"
    val kRoot = java.nio.file.Paths.get(kDir)
    if (java.nio.file.Files.exists(kRoot)) graft.sinks.CowCatalog.deleteTree(kRoot)
    val (pkf, pkd, pkv) = (s"$kDir/fact", s"$kDir/dim", s"$kDir/view")
    CowTable.create(spark.range(40000000L).select(col("id").as("oid"),
        (col("id") / 10L).cast("long").as("cust"),
        pmod(xxhash64(col("id")), lit(1000L)).as("amount")).repartition(32), pkf)
    CowTable.create(spark.range(4000000L).select(col("id").as("cid"),
        concat(lit("tier_"), pmod(col("id"), lit(50)).cast("string"),
          lit("_"), xxhash64(col("id")).cast("string")).as("tier"))
      .repartition(8), pkd)
    // cluster fact by the FK (subscription scans prune), dim by its key
    // (the dim merge prunes), view by the fact key (the fan-out merge
    // prunes -- FK-contiguous facts make the touched oids tight ranges)
    CowTable.cluster(spark, pkf, files = 64, zcols = Seq("cust"))
    CowTable.cluster(spark, pkd, files = 64, zcols = Seq("cid"))
    Sinks.bootstrapFkView(spark, pkf, pkd, pkv, "cust", "cid")
    CowTable.cluster(spark, pkv, files = 256, zcols = Seq("oid"))
    val dimBatch = spark.range(8L).select((col("id") * 399999L + 7L).as("cid"),
      concat(lit("UPDATED_"), col("id").cast("string")).as("tier"))
    val tK0 = System.nanoTime()
    Sinks.fkDimFanoutBatch(dimBatch, pkd, pkf, pkv, "oid", "cust", "cid")
    val tK = (System.nanoTime() - tK0) / 1e9
    // full recompute-and-rewrite of the same view, same end state
    val tKF0 = System.nanoTime()
    val fullView = Sinks.fkViewOf(CowTable.read(spark, pkf),
      CowTable.read(spark, pkd), "cust", "cid")
    fullView.write.mode("overwrite").parquet(s"$kDir/full")
    val tKF = (System.nanoTime() - tKF0) / 1e9
    // equality gate: the maintained view == the recomputed view
    def chk(df: org.apache.spark.sql.DataFrame): (Long, String) = {
      val r = df.agg(count(lit(1)), sum(xxhash64(col("oid"), col("cust"),
        col("amount"), col("tier")).cast("decimal(38,0)"))).collect().head
      (r.getLong(0), r.getDecimal(1).toString)
    }
    val (cI, hI) = chk(CowTable.read(spark, pkv))
    val (cF, hF) = chk(spark.read.parquet(s"$kDir/full"))
    require(cI == cF && hI == hF, s"FK view diverged: ($cI,$hI) vs ($cF,$hF)")
    require(CowTable.read(spark, pkv).filter(col("tier").startsWith("UPDATED_"))
      .count() == 80L, "fan-out must re-enrich exactly delta x fan-out rows")
    println(f"[scalebench] fkj @ 40M fact x 4M dim, 8-dim-key batch (fan-out 80): " +
      f"emission merge ${tK}%5.2f s vs full view rewrite ${tKF}%5.2f s " +
      f"-> ${tKF / tK}%.1f x (rows: $cI)")
    } // end fkj section

    if (only.forall(_ == "stats")) {
    // ---- round-12: per-file column stats — manifest-level skipping -----
    // The claim: on a stats-declared clustered table, a selective band
    // read opens only the files whose [min, max] intersect the
    // predicate — no footer round trips for the rest. At 100 TB the
    // skipped cost is file-open latency x files, which dominates
    // selective reads long before scan bytes do. 20M rows, 64 files
    // clustered by v, ~1.5% band.
    import graft.sinks.CowTable
    val stDir = "/tmp/graft_scalebench_stats"
    val stRoot = java.nio.file.Paths.get(stDir)
    if (java.nio.file.Files.exists(stRoot)) graft.sinks.CowCatalog.deleteTree(stRoot)
    CowTable.create(spark.range(20000000L)
      .select((col("id") * 7919L % 20000000L).as("v"),
              (col("id") % 1000L).as("payload"))
      .repartition(64), stDir)
    CowTable.setStatsColumns(spark, stDir, Seq("v"))
    CowTable.cluster(spark, stDir, files = 64, zcols = Seq("v"))
    val lo = 5000000L; val hi = 5300000L
    val nAll = CowTable.snapshotFiles(stDir).size
    val nPruned = CowTable.prunedFilesRange(spark, stDir, "v", Some(lo), Some(hi)).size
    def agg(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(col("v") * 31L + col("payload"))).collect().head
      (r.getLong(0), r.getLong(1))
    }
    val tF0 = System.nanoTime()
    val full = agg(CowTable.read(spark, stDir)
      .filter(col("v") >= lo && col("v") <= hi))
    val tF = (System.nanoTime() - tF0) / 1e9
    val tP0 = System.nanoTime()
    val pruned = agg(CowTable.readPrunedRange(spark, stDir, "v", Some(lo), Some(hi)))
    val tP = (System.nanoTime() - tP0) / 1e9
    require(full == pruned, s"stats-pruned read diverged: $full vs $pruned")
    println(f"[scalebench] stats @ 20M x 64 files, 1.5%% band: full-read filter ${tF}%5.2f s " +
      f"vs stats-pruned ${tP}%5.2f s ($nPruned/$nAll files opened) " +
      f"-> ${tF / tP}%.1f x, checksum-equal (rows: ${full._1})")
    } // end stats section

    if (only.forall(_ == "ivf")) {
    // ---- round-12: persistent IVF index — ingest-then-probe ------------
    // The serving claim: once the index is a TABLE, a corpus delta
    // costs a frozen-centroid refresh (O(delta x cells) assignment +
    // touched-cell drift check + key-intersecting merge) and a query
    // costs a probe (centroid rank + nprobe cell reads + exact
    // rerank) — neither re-runs the k-means build the per-invocation
    // form pays every call. 2M x 16-dim vectors, 64 cells, 2k-vector
    // delta, 10 probes.
    import graft.ops.IvfIndex
    import graft.sinks.CowTable
    val vDir = "/tmp/graft_scalebench_ivf"
    val vRoot = java.nio.file.Paths.get(vDir)
    if (java.nio.file.Files.exists(vRoot)) graft.sinks.CowCatalog.deleteTree(vRoot)
    val (pvc, pvi) = (s"$vDir/corpus", s"$vDir/index")
    // OVERLAPPING corpus (round 14, verdict r13 #5): vectors sit on a
    // smooth 16d curve x_j(t) = sin(2pi t (j+1) + j), t = id/N, plus
    // small deterministic jitter — Gaussian-mixture-like local
    // neighborhoods whose membership VARIES CONTINUOUSLY, so k-means
    // cells are curve segments and a query near a segment boundary has
    // true neighbors in the ADJACENT cell. That is the regime where the
    // nprobe/recall trade is visible at bench scale (the old
    // sin^2-banded corpus read 1.000 at every nprobe — a vacuous sweep;
    // a center-per-cluster mixture is vacuous too once every cluster
    // fits inside one cell).
    def synthVec(id: org.apache.spark.sql.Column) = {
      // low-discrepancy position on the curve (id * large-prime mod N):
      // consecutive ids SPREAD over t-space, so the deterministic seeds
      // (smallest 64 vec_ids) cover the manifold instead of all landing
      // at t ~ 0 (degenerate near-empty cells whose means swing wildly)
      val t = pmod(id * 127773L, lit(2000003L)).cast("double") / 2000003.0
      // jitter amplitude 0.3 vs curve speed ~243/t-unit: the effective
      // neighborhood width (~0.005 in t) is a sizable fraction of a
      // 1/64 cell, so true neighbor sets routinely STRADDLE cells —
      // the overlap that makes nprobe=1 lossy and the sweep monotone
      transform(sequence(lit(0), lit(15)),
        j => sin(t * (j.cast("double") + 1) * 6.2831853) +
          lit(1.0) * sin(id * 7919 + j.cast("double") * 31))
    }
    CowTable.create(spark.range(2000000L)
      .select(col("id").as("vec_id"), synthVec(col("id")).as("ve"))
      .repartition(32), pvc)
    val tB0 = System.nanoTime()
    IvfIndex.buildIndex(spark, pvc, pvi, numCells = 64, iters = 2)
    val tB = (System.nanoTime() - tB0) / 1e9
    // cluster assign by cell: probes become file-skipping reads
    CowTable.cluster(spark, s"$pvi/assign", files = 64, zcols = Seq("cell"))
    // delta: 1k updates (mild move) + 1k inserts
    CowTable.merge(spark, pvc, spark.range(1000L)
      .select((col("id") * 1999L).as("vec_id"),
        synthVec(col("id") * 1999L + 13L).as("ve")), "vec_id")
    CowTable.append(spark, pvc, spark.range(2000000L, 2001000L)
      .select(col("id").as("vec_id"), synthVec(col("id")).as("ve")))
    val tR0 = System.nanoTime()
    val ref = IvfIndex.refresh(spark, pvc, pvi, maxDrift = 0.2, numCells = 64)
    val tR = (System.nanoTime() - tR0) / 1e9
    require(!ref.rebuilt, "mild 0.1% delta must not re-seed")
    // equality gate: refreshed assign == full reassignment under the
    // frozen centroids
    def chkA(df: org.apache.spark.sql.DataFrame): (Long, String) = {
      val r = df.agg(count(lit(1)), sum(xxhash64(col("vec_id"), col("cell"))
        .cast("decimal(38,0)"))).collect().head
      (r.getLong(0), r.getDecimal(1).toString)
    }
    val (cR, hR) = chkA(CowTable.read(spark, s"$pvi/assign"))
    val (cT, hT) = chkA(IvfIndex.assignTo(
      IvfIndex.withNorm(CowTable.read(spark, pvc).select(col("vec_id"), col("ve"))),
      CowTable.read(spark, s"$pvi/centroids")))
    require(cR == cT && hR == hT, s"assign diverged: ($cR,$hR) vs ($cT,$hT)")
    // HARD queries: corpus points whose top-2 centroid scores nearly
    // tie — the boundary-straddling population where nprobe actually
    // buys recall (an easy mid-cell query reads 1.0 at nprobe=1 at any
    // scale; real ANN evals stratify by this margin for the same
    // reason). Deterministic given corpus + index.
    val probeQ = {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.VectorFunctions.vec_dot
      val cStored = CowTable.read(spark, s"$pvi/centroids")
      val vv = IvfIndex.withNorm(
        CowTable.read(spark, pvc).select(col("vec_id"), col("ve")))
      val wq = Window.partitionBy("vec_id").orderBy(col("cs").desc, col("cid"))
      vv.join(broadcast(cStored), lit(true))
        .withColumn("cs", vec_dot(col("ve"), col("ce")) / (col("nv") * col("nc")))
        .withColumn("r", row_number().over(wq)).filter(col("r") <= 2)
        .groupBy("vec_id").agg((max("cs") - min("cs")).as("margin"))
        .filter(col("margin") < 0.002)
        .orderBy("vec_id").limit(10)
        .join(CowTable.read(spark, pvc), Seq("vec_id"))
        .select(col("vec_id").as("qid"), col("ve").as("qe")).localCheckpoint()
    }
    require(probeQ.count() == 10, "the overlap corpus must yield 10 hard queries")
    val tP0 = System.nanoTime()
    val nP = IvfIndex.probe(spark, pvi, probeQ, nprobe = 4, k = 10).count()
    val tP = (System.nanoTime() - tP0) / 1e9
    println(f"[scalebench] ivf @ 2M x 16d, 64 cells: build ${tB}%5.1f s ONCE; " +
      f"2k-delta refresh ${tR}%5.2f s, 10-query probe ${tP}%5.2f s (rows: $nP) " +
      f"-> serving pays ${tR + tP}%.2f s/window vs ${tB}%.1f s/query rebuilt")
    // the SERVING path: ONE query probes nprobe cells only — with the
    // assign table cell-clustered + stats-declared, the read opens
    // ~nprobe of 64 files at the MANIFEST (no footer round trips)
    val oneQ = probeQ.limit(1).localCheckpoint()
    val t10 = System.nanoTime()
    val n1 = IvfIndex.probe(spark, pvi, oneQ, nprobe = 4, k = 10).count()
    val t1q = (System.nanoTime() - t10) / 1e9
    val cellsOf = CowTable.read(spark, s"$pvi/centroids").select("cid")
      .collect().map(_.get(0)).toSeq
    val openAll = CowTable.snapshotFiles(s"$pvi/assign").size
    // worst case (all cells) vs a 4-cell literal probe
    val open4 = CowTable.prunedFilesIn(spark, s"$pvi/assign", "cell",
      cellsOf.take(4)).size
    println(f"[scalebench] ivf single-query probe ${t1q}%5.2f s (rows: $n1); " +
      f"a 4-cell literal list opens $open4 of $openAll assign files (manifest stats)")
    // recall column (round 13): served recall@10 vs exact brute force
    // for the same 10 queries, swept over nprobe — the quality the
    // latency above buys. (The synthetic corpus is banded by
    // construction — sin² clusters — so IVF cells align with it.)
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.vec_dot
    val vAll = CowTable.read(spark, pvc).select(col("vec_id"), col("ve"))
    val wEx = Window.partitionBy("qid").orderBy(col("s").desc, col("vec_id"))
    val exactTop = probeQ.join(vAll, col("vec_id") =!= col("qid"))
      .withColumn("s", vec_dot(col("qe"), col("ve")) /
        (sqrt(vec_dot(col("qe"), col("qe"))) * sqrt(vec_dot(col("ve"), col("ve")))))
      .withColumn("rn", row_number().over(wEx)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallCurve = Seq(1, 2, 4, 8).map { np =>
      val t0 = System.nanoTime()
      val served = IvfIndex.probe(spark, pvi, probeQ, nprobe = np, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sec = (System.nanoTime() - t0) / 1e9
      val recall = served.intersect(exactTop).size.toDouble / exactTop.size
      println(f"[scalebench] ivf recall@10 nprobe=$np%d: $recall%.3f " +
        f"(probe ${sec}%5.2f s, 10 queries)")
      np -> recall
    }
    require(recallCurve.sliding(2).forall(p => p.head._2 <= p.last._2 + 1e-9),
      s"recall must be monotone in nprobe: $recallCurve")
    require(recallCurve.head._2 < 0.999 && recallCurve.last._2 >= 0.9,
      s"the overlap corpus must make the trade VISIBLE (want <1 at nprobe=1, " +
        s">=0.9 at 8): $recallCurve")

    // ---- round-14 (verdict r13 #4): IVF-SQ8 int8 lists ----------------
    // Same corpus, quantized lists + exact rerank from the corpus
    // floats. The metric that matters at 100 TB is LIST BYTES (probe IO
    // is raw vector bytes); locally the rerank's extra corpus read eats
    // part of the IO saving — reported honestly, both ways.
    def dataBytes(path: String): Long =
      CowTable.filesMeta(spark, path).filter(col("kind") === "data")
        .agg(sum("size_bytes")).collect().head.getLong(0)
    val pvq = s"$vDir/index_sq8"
    IvfIndex.buildIndex(spark, pvc, pvq, numCells = 64, iters = 2, sq8 = true)
    CowTable.cluster(spark, s"$pvq/assign", files = 64, zcols = Seq("cell"))
    val bF = dataBytes(s"$pvi/assign"); val bQ = dataBytes(s"$pvq/assign")
    // the HARD queries are near-tied by construction, so the quantized
    // ranking's error (~0.01 cosine at this corpus's scales) exceeds
    // their margins — the rerank buffer must be deep enough to hold
    // every candidate inside one quantization error of the cut
    // (FAISS's reorder_k knob; 64x10 of ~125k probed candidates)
    val tQ0 = System.nanoTime()
    val servedQ = IvfIndex.probe(spark, pvq, probeQ, nprobe = 4, k = 10,
        rerankFactor = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tQp = (System.nanoTime() - tQ0) / 1e9
    val recQ = servedQ.intersect(exactTop).size.toDouble / exactTop.size
    val recF = recallCurve.toMap.apply(4)
    val t1q0 = System.nanoTime()
    IvfIndex.probe(spark, pvq, oneQ, nprobe = 4, k = 10, rerankFactor = 64).count()
    val t1Q = (System.nanoTime() - t1q0) / 1e9
    println(f"[scalebench] ivf-sq8 @ same corpus: assign lists $bQ%,d bytes vs " +
      f"float $bF%,d (${bF.toDouble / bQ}%.1fx smaller); 10-query probe " +
      f"${tQp}%5.2f s (float ${recallCurve.size}s sweep above), single-query ${t1Q}%5.2f s; " +
      f"recall@10 nprobe=4: sq8 $recQ%.3f vs float $recF%.3f (exact rerank)")
    require(recQ >= recF - 0.05,
      s"sq8 + exact rerank must not lose recall: $recQ vs $recF")

    // ---- round-15: IVF-PQ product-quantized lists ----------------------
    // One level below sq8: m=4 subspaces x 64-codeword codebooks over
    // the 16-dim corpus — 4 code bytes per list vector vs 16 int8 vs
    // 128 float64. Codebooks train on a 1/100 deterministic hash
    // sample (the standard practice; encoding covers every vector);
    // probes reconstruct through the shared decode seam, which IS the
    // ADC sum, then exact-rerank from the corpus floats like sq8.
    // THE TRADE this section measures: coarser codes need a deeper
    // exact-rerank buffer (FAISS's reorder_k) — on these HARD queries
    // (margins < 0.002, under the quantization error by construction)
    // recall climbs with rerankFactor instead of being free at 64 the
    // way sq8's finer codes allow. The battery runs ks=256 books —
    // affordable since the r16 codegen encoder removed the encode tax
    // (64.7x; the r15 battery kept ks=64 because 256 quadrupled an
    // already-interpreted cost) — and the finer books reach full
    // recall a 4x SHALLOWER rerank than ks=64 needed (1.0@1024 vs
    // 1.0@4096, PLANS.md r15/r16).
    val pvp = s"$vDir/index_pq"
    val tPqb0 = System.nanoTime()
    IvfIndex.buildIndex(spark, pvc, pvp, numCells = 64, iters = 2,
      pq = 4, pqCodes = 256, pqTrainSample = 100)
    val tPb = (System.nanoTime() - tPqb0) / 1e9
    CowTable.cluster(spark, s"$pvp/assign", files = 64, zcols = Seq("cell"))
    val bP = dataBytes(s"$pvp/assign")
    val pqCurve = Seq(64, 256, 1024, 4096).map { rf =>
      val t0 = System.nanoTime()
      val servedP = IvfIndex.probe(spark, pvp, probeQ, nprobe = 4, k = 10,
          rerankFactor = rf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sec = (System.nanoTime() - t0) / 1e9
      val rec = servedP.intersect(exactTop).size.toDouble / exactTop.size
      println(f"[scalebench] ivf-pq recall@10 nprobe=4 rerankFactor=$rf%d: " +
        f"$rec%.3f (probe ${sec}%5.2f s, 10 queries)")
      rf -> rec
    }
    println(f"[scalebench] ivf-pq @ same corpus: assign lists $bP%,d bytes vs " +
      f"sq8 $bQ%,d / float $bF%,d (${bF.toDouble / bP}%.1fx smaller than float); " +
      f"build ${tPb}%5.1f s (1/100 train sample); recall reaches float's " +
      f"$recF%.3f at the deep-rerank end of the curve")
    require(pqCurve.sliding(2).forall(p => p.head._2 <= p.last._2 + 1e-9),
      s"pq recall must be monotone in rerankFactor: $pqCurve")
    require(pqCurve.last._2 >= 0.9,
      s"pq + deep exact rerank must recover recall: $pqCurve")
    require(pqCurve.toMap.getOrElse(1024, 0.0) >= 0.9,
      s"ks=256 books must recover recall by rf=1024 (the finer-book win): $pqCurve")

    // ---- round-16: codegen PQ encoder vs the interpreted HOF ----------
    // The r15 PLANS.md cost center: encode at ks=256 paid interpreted
    // lambda dispatch per (row, sub, codeword). Same codebook, same
    // rows, bit-identical codes (IvfIndexSpec parity) — only the
    // execution strategy differs: one generated m x ks x dsub loop vs
    // nested transform/aggregate HOFs. 200k-row sample keeps the HOF
    // side's wall tolerable in the battery; the ratio is the story.
    {
      val (mE, ksE, dsubE) = (4, 256, 4)
      val encCbE: Seq[Seq[Seq[Double]]] = (0 until mE).map(s =>
        (0 until ksE).map(c =>
          IndexedSeq.tabulate(dsubE)(j => math.cos(s * 31.0 + c * 5.0 + j))))
      val encRows = CowTable.read(spark, pvc)
        .filter(col("vec_id") < 200000L)
        .select(col("vec_id"), col("ve").cast("array<double>").as("ve"))
        .localCheckpoint()
      def force(d: org.apache.spark.sql.DataFrame): Long =
        d.select(sum(element_at(col("pqc"), 1).cast("long"))).head().getLong(0)
      val t0c = System.nanoTime()
      val sCg = force(encRows.withColumn("pqc",
        graft.functions.VectorFunctions.pq_encode(
          col("ve"), mE, ksE, dsubE, encCbE.flatten.flatten.toArray)))
      val tCg = (System.nanoTime() - t0c) / 1e9
      val t0h = System.nanoTime()
      val sHof = force(IvfIndex.pqEncodeHof(encRows, mE, dsubE, encCbE))
      val tHof = (System.nanoTime() - t0h) / 1e9
      require(sCg == sHof, s"codegen/HOF encode diverged: $sCg vs $sHof")
      println(f"[scalebench] ivf-pq encode 200k x 16d, ks=256: codegen " +
        f"${tCg}%5.2f s vs HOF ${tHof}%6.2f s (${tHof / tCg}%.1fx)")
      require(tHof / tCg >= 1.5,
        s"codegen encoder regressed below the HOF it replaced: $tCg vs $tHof")
    }

    // ---- round-17 (verdict r16 task 7): INCREMENTAL PQ maintenance -----
    // A corpus append folds into the persistent PQ index via refresh:
    // only the window's rows re-encode, under the FROZEN stored
    // codebooks (no retraining) — time ∝ appended rows, not corpus.
    // The IvfIndexSpec battery proves frozen books + code parity +
    // the drift re-seed; this measures the 100 TB claim: a 2k-row
    // append costs a fraction of the 2M-row build.
    {
      def cbChecksum(): String = CowTable.read(spark, s"$pvp/codebooks")
        .agg(sum(xxhash64(col("sub"), col("code"),
          to_json(struct(col("cw")))).cast("decimal(38,0)"))).head().toString
      val cbBefore = cbChecksum()
      CowTable.append(spark, pvc, spark.range(2001000L, 2003000L)
        .select(col("id").as("vec_id"), synthVec(col("id")).as("ve")))
      val tPr0 = System.nanoTime()
      val refP = IvfIndex.refresh(spark, pvc, pvp, maxDrift = 0.2, numCells = 64)
      val tPr = (System.nanoTime() - tPr0) / 1e9
      require(!refP.rebuilt, "a 0.1% append must not re-seed the PQ index")
      require(cbChecksum() == cbBefore,
        "codebooks must stay FROZEN across an incremental append window")
      // recall against the exact top-10 RECOMPUTED over the grown corpus
      // (appended vectors may displace true neighbors)
      import org.apache.spark.sql.expressions.Window
      import graft.functions.VectorFunctions.vec_dot
      val vAll2 = CowTable.read(spark, pvc).select(col("vec_id"), col("ve"))
      val wEx2 = Window.partitionBy("qid").orderBy(col("s").desc, col("vec_id"))
      val exactTop2 = probeQ.join(vAll2, col("vec_id") =!= col("qid"))
        .withColumn("s", vec_dot(col("qe"), col("ve")) /
          (sqrt(vec_dot(col("qe"), col("qe"))) * sqrt(vec_dot(col("ve"), col("ve")))))
        .withColumn("rn", row_number().over(wEx2)).filter(col("rn") <= 10)
        .select(col("qid"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val servedP2 = IvfIndex.probe(spark, pvp, probeQ, nprobe = 4, k = 10,
          rerankFactor = 1024)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recP2 = servedP2.intersect(exactTop2).size.toDouble / exactTop2.size
      println(f"[scalebench] ivf-pq incremental append: 2k rows folded in " +
        f"${tPr}%5.2f s vs ${tPb}%5.1f s full build (${tPb / tPr}%.0fx) — " +
        f"frozen codebooks, recall@10 rf=1024 after append: $recP2%.3f")
      require(tPr < tPb / 3.0,
        f"append maintenance must cost a fraction of a rebuild: ${tPr}%.2f " +
          f"vs ${tPb}%.2f")
      require(recP2 >= 0.9,
        s"recall must survive incremental maintenance: $recP2")
    }
    } // end ivf section

    if (only.forall(_ == "skew")) {
    // ---- round-13: AQE skew join vs manual salting (VERDICT r12 #7) ----
    // The declarative path a 100 TB user gets by default: AQE's
    // OptimizeSkewedJoin splits oversized shuffle partitions at
    // runtime. Fixture: 8M-row fact with 30% of rows on ONE key
    // joined to a 200k-row dim, broadcast disabled (dim too wide to
    // broadcast in the scenario) → a sort-merge join whose hot
    // partition holds 2.4M rows. Three plans, same checksum:
    //   naive    AQE off, plain join — the hot task dominates
    //   aqe      AQE on, plain join  — skew split at runtime (plan-
    //            guarded: the executed plan must say "skew=true")
    //   salted   AQE off, Scale.saltedJoin(16) — the explicit tool
    // Salting's remaining win condition: shapes AQE can't split — a
    // broadcast-excluded HASH join it must keep intact, or aggregation
    // after the join keyed on the hot column (the split partitions
    // re-merge at the agg exchange); for the plain shuffle join AQE
    // is the right default and manual salt is just overhead.
    val fDir = "/tmp/graft_scalebench_skew_f"
    val dDir = "/tmp/graft_scalebench_skew_d"
    spark.range(8000000L).select(
        when(pmod(col("id"), lit(10)) < 3, 0L)
          .otherwise(pmod(xxhash64(col("id")), lit(200000L))).as("k"),
        col("id").as("payload"))
      .write.mode("overwrite").parquet(fDir)
    spark.range(200000L).select(col("id").as("k"),
        concat(lit("dim_"), col("id")).as("attr"))
      .write.mode("overwrite").parquet(dDir)
    def chk(df: org.apache.spark.sql.DataFrame): (Long, String, Double, String) = {
      val t0 = System.nanoTime()
      val agg = df.agg(count(lit(1)),
        sum(xxhash64(col("payload"), col("attr")).cast("decimal(38,0)")))
      val r = agg.collect().head
      // the agg df is the one that EXECUTED — its adaptive plan is final
      (r.getLong(0), r.getDecimal(1).toString, (System.nanoTime() - t0) / 1e9,
        agg.queryExecution.executedPlan.toString)
    }
    def withConfs(pairs: (String, String)*)(body: => (Long, String, Double, String)) = {
      val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val fact = () => spark.read.parquet(fDir)
    val dim = () => spark.read.parquet(dDir)
    val noBc = "spark.sql.autoBroadcastJoinThreshold" -> "-1"
    val (cN, hN, tN, _) = withConfs(noBc, "spark.sql.adaptive.enabled" -> "false") {
      chk(fact().join(dim(), "k"))
    }
    val (cA, hA, tA, aqePlan) = withConfs(noBc,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4m") {
      chk(fact().join(dim(), "k"))
    }
    require(aqePlan.contains("skew=true"),
      "plan guard: AQE's OptimizeSkewedJoin must have fired on the hot key")
    val (cS, hS, tS, _) = withConfs(noBc, "spark.sql.adaptive.enabled" -> "false") {
      chk(graft.ops.Scale.saltedJoin(fact(), dim(), "k", salts = 16))
    }
    require(cN == cA && cA == cS && hN == hA && hA == hS,
      s"skew variants diverged: ($cN,$hN) ($cA,$hA) ($cS,$hS)")
    println(f"[scalebench] skew @ 8M x 200k, 30%% on one key: " +
      f"naive ${tN}%5.2f s | AQE skew-split ${tA}%5.2f s (plan-guarded skew=true) " +
      f"| salted(16) ${tS}%5.2f s — checksum-equal")
    } // end skew section

    if (only.forall(_ == "cdc")) {
    // ---- round-14: streaming table->table chaining (cow-cdc source) ----
    // A 5M-row upstream CowTable mirrored downstream through the
    // cow-cdc STREAMING source + cdcMirror sink; five CDC windows
    // (append / merge / MoR delete) land while the query runs. The
    // structural claim: each mirrored window costs the manifest DIFF
    // (delta-proportional reads + one atomic MoR upsert), while the
    // batch-glue alternative re-copies the table per window.
    import graft.sinks.{CowTable, Sinks}
    import graft.sources.CowCdcSourceProvider
    val cdcDir = "/tmp/graft_scalebench_cdc"
    val cdcRoot = java.nio.file.Paths.get(cdcDir)
    if (java.nio.file.Files.exists(cdcRoot)) graft.sinks.CowCatalog.deleteTree(cdcRoot)
    val up = s"$cdcDir/up"; val mir = s"$cdcDir/mirror"
    CowTable.create(spark.range(5000000L).select(col("id"),
        pmod(xxhash64(col("id")), lit(100000L)).as("v"))
      .repartitionByRange(32, col("id")), up)
    val feed = spark.readStream.format(classOf[CowCdcSourceProvider].getName)
      .option("path", up).option("key", "id").load()
    val q = Sinks.cdcMirrorStream(feed, mir, "id", s"$cdcDir/ckpt")
    q.processAllAvailable() // window 0: the 5M-row initial snapshot
    // window shapes follow the round-11 IVM lesson: appends + MoR
    // deletes are key-granular; updates stay CLUSTERED (contiguous ids
    // -> few rewritten files). A scattered 5k-key merge would rewrite
    // all 32 range files and the manifest diff honestly degrades to a
    // full-table compare; delete key lists stay <= 1024 so the
    // carried-file preimage scan rides the literal-IN manifest pruning
    val t0 = System.nanoTime()
    (0 until 5).foreach { w =>
      CowTable.append(spark, up, spark.range(5000000L + w * 30000L,
          5000000L + w * 30000L + 20000L)
        .select(col("id"), pmod(xxhash64(col("id")), lit(100000L)).as("v")))
      CowTable.merge(spark, up, spark.range(5000L)
        .select((col("id") + w * 300000L).as("id"), lit(w.toLong).as("v")), "id")
      CowTable.deleteMorKeys(spark, up, spark.range(800L)
        .select((col("id") * 4999L + w * 7L).as("id")).toDF("id"), "id")
      q.processAllAvailable()
    }
    val tInc = (System.nanoTime() - t0) / 1e9
    q.stop()
    def chk(p: String): (Long, String) = {
      val r = CowTable.read(spark, p).agg(count(lit(1)),
        sum(xxhash64(col("id"), col("v")).cast("decimal(38,0)"))).collect().head
      (r.getLong(0), r.getDecimal(1).toString)
    }
    val (cU, hU) = chk(up); val (cM, hM) = chk(mir)
    require(cU == cM && hU == hM,
      s"mirror diverged from upstream: ($cU,$hU) vs ($cM,$hM)")
    // the batch-glue alternative: one full-table rewrite per window
    CowTable.create(CowTable.read(spark, up).limit(0), s"$cdcDir/copy")
    val t1 = System.nanoTime()
    (0 until 5).foreach { _ =>
      CowTable.overwrite(spark, s"$cdcDir/copy", CowTable.read(spark, up))
    }
    val tFull = (System.nanoTime() - t1) / 1e9
    // the continuous trigger mirrors every upstream COMMIT as its own
    // micro-batch (15 here — lowest latency), each paying one manifest
    // diff + one atomic MoR upsert; batching commits per trigger is the
    // maxVersionsPerBatch/trigger knob, not a different plan
    val nCommits = 15.0
    println(f"[scalebench] cdc @ 5M-row table, 5 windows of " +
      f"20k append + 5k clustered merge + 800-key MoR delete: streamed " +
      f"chaining ${tInc}%5.2f s (${nCommits.toInt} per-commit micro-batches, " +
      f"${tInc / nCommits}%4.1f s each) vs full-recopy glue ${tFull}%5.2f s " +
      f"(5 rewrites), mirror checksum-equal (${cM}%,d rows); the structural " +
      f"claim is delta-proportional READS per mirrored commit (flat as the " +
      f"table grows) — locally a 5M-row recopy is one ~1 s scan, the " +
      f"ivm-section caveat")
    } // end cdc section

    if (only.forall(_ == "spj")) {
    // ---- round-14: storage-partitioned CowTable join (VERDICT r13 #2) --
    // Two co-bucketed 10M-row CowTables joined on their bucket key: the
    // SPJ read face (KeyGroupedPartitioning(bucket(32, id)) through the
    // CowCatalog FunctionCatalog) plans the join with ZERO exchanges,
    // vs the ordinary shuffled plan on the same data. Checksum-equal.
    // Honest-measurement caveat (round-5 key-grouped precedent): on one
    // JVM the avoided exchange is a memory copy, so the local delta
    // understates; the structural win is the eliminated network
    // round-trip of BOTH fact shuffles at cluster scale, plus the
    // scan-parallelism trade (n buckets caps map tasks) documented on
    // the default-OFF gate.
    import graft.sinks.{CowTable, PartitionTransform}
    val spjWh = "/tmp/graft_scalebench_spj"
    val spjRoot = java.nio.file.Paths.get(spjWh)
    if (java.nio.file.Files.exists(spjRoot)) graft.sinks.CowCatalog.deleteTree(spjRoot)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$spjWh/ns"))
    val spjN = 32
    CowTable.create(spark.range(10000000L).select(col("id"),
        pmod(xxhash64(col("id")), lit(1000L)).as("v")).repartition(16),
      s"$spjWh/ns/a", Seq(PartitionTransform.bucket(spjN, "id")))
    CowTable.create(spark.range(2000000L, 12000000L).select(col("id"),
        pmod(xxhash64(col("id") + 7), lit(1000L)).as("w")).repartition(16),
      s"$spjWh/ns/b", Seq(PartitionTransform.bucket(spjN, "id")))
    spark.conf.set("spark.sql.catalog.spjcat", classOf[graft.sinks.CowCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjcat.root", spjWh)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    def spjQ = spark.sql(
      "SELECT count(*) c, sum(a.v * b.w) s FROM spjcat.ns.a a JOIN spjcat.ns.b b ON a.id = b.id")
    def spjRun(): (String, Double, Int) = {
      val df = spjQ
      val nEx = "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
      val t0 = System.nanoTime()
      val r = df.collect().head.toString
      (r, (System.nanoTime() - t0) / 1e9, nEx)
    }
    spark.conf.set("spark.graft.cowSpj", "true")
    val (rSpj, tSpj, exSpj) = spjRun()
    spark.conf.set("spark.graft.cowSpj", "false")
    val (rShuf, tShuf, exShuf) = spjRun()
    require(rSpj == rShuf, s"SPJ diverged: $rSpj vs $rShuf")
    // the measuring query's own 1-row final aggregate keeps one
    // SinglePartition exchange in BOTH plans; the JOIN's two fact
    // shuffles are what SPJ removes
    require(exSpj == 1 && exShuf == 3,
      s"plan shape: spj=$exSpj exchanges (want 1: final agg only), " +
        s"shuffled=$exShuf (want 3)")
    println(f"[scalebench] spj @ 10M x 10M co-bucketed(32) join: " +
      f"zero-JOIN-exchange ${tSpj}%5.2f s vs shuffled (${exShuf - 1} join exchanges) ${tShuf}%5.2f s, " +
      f"checksum-equal")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    } // end spj section

    if (only.forall(_ == "dpp")) {
    // ---- round-16: runtime file pruning on the catalog scan ------------
    // (VERDICT r15 #1). A 10M-row id-range-clustered catalog fact (64
    // files, manifest range stats on id) joined to a filtered dim whose
    // surviving keys live in ONE narrow id band: Spark's dynamic
    // partition pruning plans a runtime IN filter against the fact's
    // SupportsRuntimeV2Filtering scan, which re-prunes the file list
    // through the manifest stats at execution — the fact scan opens the
    // band's files, not the table. SPJ killed the star join's exchange;
    // this kills the untouched files' IO when the dim side is filtered.
    import graft.sinks.CowTable
    val dppWh = "/tmp/graft_scalebench_dpp"
    val dppRoot = java.nio.file.Paths.get(dppWh)
    if (java.nio.file.Files.exists(dppRoot)) graft.sinks.CowCatalog.deleteTree(dppRoot)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dppWh/ns"))
    // the measured columns include a ~64-byte payload so the scan-IO
    // delta is visible at local scale (id+v alone page-cache to noise)
    CowTable.create(spark.range(40000000L).select(col("id"),
        pmod(xxhash64(col("id")), lit(1000L)).as("v"),
        sha2(concat(col("id").cast("string"), lit("pad")), 256).as("pad"))
        .repartitionByRange(64, col("id")), s"$dppWh/ns/fact")
    CowTable.setStatsColumns(spark, s"$dppWh/ns/fact", Seq("id"))
    val dppFiles = CowTable.snapshotFiles(s"$dppWh/ns/fact").size
    // dim keys confined to ids < 300k (1-2 of 64 fact files), with a
    // selective equality filter the DPP planner keys on
    CowTable.create(spark.range(100000L).select((col("id") * 3L).as("id"),
        pmod(col("id"), lit(10L)).as("grp")), s"$dppWh/ns/dim")
    spark.conf.set("spark.sql.catalog.dppcat", classOf[graft.sinks.CowCatalog].getName)
    spark.conf.set("spark.sql.catalog.dppcat.root", dppWh)
    def dppQ = spark.sql(
      "SELECT count(*) c, sum(f.v) s, sum(length(f.pad)) p " +
        "FROM dppcat.ns.fact f JOIN dppcat.ns.dim d ON f.id = d.id " +
        "WHERE d.grp = 3")
    def dppRun(): (String, Double, Int) = {
      val df = dppQ
      val qe = df.queryExecution
      val t0 = System.nanoTime()
      val r = df.collect().head.toString
      val sec = (System.nanoTime() - t0) / 1e9
      def nodes(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] =
        (p +: p.children.flatMap(nodes)) ++ (p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            nodes(a.executedPlan)
          case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            nodes(qs.plan)
          case _ => Seq.empty
        })
      val read = nodes(qe.executedPlan).collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
            if b.scan.description().contains("fact") => b.inputRDD.getNumPartitions
      }.headOption.getOrElse(-1)
      (r, sec, read)
    }
    val (rD, tD, filesD) = dppRun()
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
    val (rN, tN, filesN) = dppRun()
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    require(rD == rN, s"runtime pruning diverged: $rD vs $rN")
    require(filesD <= 4 && filesN >= dppFiles - 1,
      s"file pruning shape: dpp read $filesD (want ≤4 of $dppFiles), " +
        s"off read $filesN")
    println(f"[scalebench] dpp @ 40M-row fact (64 range files) ⋈ σ(dim): " +
      f"runtime filter reads $filesD%d of $dppFiles%d files in ${tD}%5.2f s " +
      f"vs $filesN%d files / ${tN}%5.2f s with DPP off — checksum-equal")
    } // end dpp section

    if (only.forall(_ == "mfa")) {
    // ---- round-16: manifest-only aggregates -----------------------------
    // COUNT/MIN/MAX answered from R row-count + C stats lines (zero
    // data-file reads), global and UNDER a file-exact partition filter
    // — vs the same queries forced through the data files. At 100 TB
    // the scan side is the whole table's IO; the manifest side is a
    // metadata read whose cost is independent of data volume.
    import graft.sinks.{CowTable, PartitionTransform}
    val mfaWh = "/tmp/graft_scalebench_mfa"
    val mfaRoot = java.nio.file.Paths.get(mfaWh)
    if (java.nio.file.Files.exists(mfaRoot)) graft.sinks.CowCatalog.deleteTree(mfaRoot)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$mfaWh/ns"))
    CowTable.create(spark.range(10000000L).select(col("id"),
        pmod(col("id"), lit(16L)).as("grp"),
        sha2(concat(col("id").cast("string"), lit("p")), 256).as("pad"))
        .repartition(4), s"$mfaWh/ns/t",
      Seq(PartitionTransform.identity("grp")))
    CowTable.setStatsColumns(spark, s"$mfaWh/ns/t", Seq("grp", "id"))
    spark.conf.set("spark.sql.catalog.mfacat", classOf[graft.sinks.CowCatalog].getName)
    spark.conf.set("spark.sql.catalog.mfacat.root", mfaWh)
    def timeQ(sql: String): (String, Double) = {
      val df = spark.sql(sql)
      val t0 = System.nanoTime()
      val r = df.collect().head.toString
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (rG, tG) = timeQ("SELECT count(*) c, min(id) mn, max(id) mx, " +
      "sum(id) sm FROM mfacat.ns.t")
    val (rF, tF) = timeQ("SELECT count(*) c, min(id) mn, max(id) mx, " +
      "sum(id) sm FROM mfacat.ns.t WHERE grp = 7")
    // the forced-scan twins (path read: same files, no manifest answers)
    val scanDf = CowTable.read(spark, s"$mfaWh/ns/t")
    val t0s = System.nanoTime()
    val rGs = scanDf.agg(count(lit(1)), min("id"), max("id"), sum("id"))
      .collect().head.toString
    val tGs = (System.nanoTime() - t0s) / 1e9
    val t1s = System.nanoTime()
    val rFs = scanDf.filter(col("grp") === 7)
      .agg(count(lit(1)), min("id"), max("id"), sum("id")).collect().head.toString
    val tFs = (System.nanoTime() - t1s) / 1e9
    require(rG == rGs && rF == rFs, s"manifest aggregates diverged: $rG/$rGs $rF/$rFs")
    val pG = spark.sql("SELECT count(*) FROM mfacat.ns.t")
      .queryExecution.executedPlan.toString
    require(pG.contains("CowAggScan"), s"global agg must plan CowAggScan: ${pG.take(300)}")
    val pF = spark.sql("SELECT count(*) FROM mfacat.ns.t WHERE grp = 7")
      .queryExecution.executedPlan.toString
    require(pF.contains("CowAggScan"),
      s"filtered agg must plan CowAggScan under the exact filter: ${pF.take(300)}")
    println(f"[scalebench] mfa @ 10M rows, 16 identity partitions: " +
      f"global count/min/max ${tG}%5.2f s (manifest) vs ${tGs}%5.2f s (scan); " +
      f"grp-filtered ${tF}%5.2f s vs ${tFs}%5.2f s — values equal, zero data files read")
    } // end mfa section

    if (only.forall(_ == "mft")) {
    // ---- round-17: manifest SCALE — planning against 100k files ---------
    // At 100 TB a snapshot references 10⁵–10⁶ files; every plan walks
    // the manifest (file list, R row counts, C stats JSON, lookup
    // gates). This probe synthesizes a 100k-entry manifest (fake file
    // paths — nothing below the planner ever opens them) and measures
    // the PLANNING sequence a filtered aggregate runs: snapshotFiles +
    // fileRowCounts + exactConstantPrune + prunedFilesIn. Cold = first
    // touch pays the text+JSON parse once; warm = every subsequent
    // plan against the same snapshot serves from the (manifest, size,
    // mtime)-keyed driver cache. The gate: warm ≥10× colder-than-cold
    // (VERDICT r16 task 3's done bar).
    import graft.sinks.CowTable
    val mftWh = "/tmp/graft_scalebench_mft"
    val mftRoot = java.nio.file.Paths.get(mftWh)
    if (java.nio.file.Files.exists(mftRoot)) graft.sinks.CowCatalog.deleteTree(mftRoot)
    val mftT = s"$mftWh/ns/t"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$mftT/_snapshots"))
    val nFiles = 100000
    val sb = new StringBuilder(nFiles * 160)
    sb.append("K k\n")
    var i = 0
    while (i < nFiles) {
      val f = s"$mftT/data/fake_$i.parquet"
      sb.append(f).append('\n')
      sb.append("R ").append(f).append('\t').append(1000).append('\n')
      // k file-constant at i (the identity-partitioned shape), v ranging
      sb.append("C ").append(f).append('\t')
        .append(s"""{"k":[$i,$i,1000,${1000L * i}],"v":[${i * 10},${i * 10 + 9},1000,${1000L * (i * 10 + 4)}]}""")
        .append('\n')
      i += 1
    }
    sb.append("W ").append(System.currentTimeMillis()).append('\n')
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$mftT/_snapshots/v1.json"),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def planOnce(): Int = {
      val fs = CowTable.snapshotFiles(mftT)
      val counts = CowTable.fileRowCounts(mftT)
      require(fs.size == nFiles && counts.size == nFiles)
      val exact = CowTable.exactConstantPrune(spark, mftT, "k", Seq(42L),
        None, org.apache.spark.sql.types.LongType)
      require(exact.exists(_.size == 1), s"exact prune kept ${exact.map(_.size)}")
      val ranged = CowTable.prunedFilesIn(spark, mftT, "v", Seq(421L), None,
        Some(org.apache.spark.sql.types.LongType))
      require(ranged.size == 1, s"range prune kept ${ranged.size}")
      exact.get.size + ranged.size
    }
    def timePlans(n: Int): Double = {
      val t0 = System.nanoTime(); var j = 0
      while (j < n) { planOnce(); j += 1 }
      (System.nanoTime() - t0) / 1e9 / n
    }
    val tCold = timePlans(1) // first touch: full parse
    val tWarm = timePlans(20) // steady state: cache hits
    // per-shape steady-state: point filter on the file-constant column
    // (O(values) via the const index) vs range-ish IN on the
    // non-constant column (the honest O(files) stats loop)
    def timeN(n: Int)(f: => Unit): Double = {
      val t0 = System.nanoTime(); var j = 0
      while (j < n) { f; j += 1 }
      (System.nanoTime() - t0) / 1e6 / n
    }
    val tPoint = timeN(50)(require(CowTable.exactConstantPrune(spark, mftT, "k",
      Seq(42L), None, org.apache.spark.sql.types.LongType).exists(_.size == 1)))
    // v's per-file [i·10, i·10+9] intervals are pairwise disjoint (the
    // range-clustered layout), so point AND range pruning on v ride
    // the sorted range index — O(log files), not the stats loop
    val tRange = timeN(50)(require(CowTable.prunedFilesIn(spark, mftT, "v",
      Seq(421L), None, Some(org.apache.spark.sql.types.LongType)).size == 1))
    val tSpan = timeN(50)(require(CowTable.prunedFilesRange(spark, mftT, "v",
      Some(415L), Some(445L), None,
      Some(org.apache.spark.sql.types.LongType)).size == 4))
    println(f"[scalebench] mft @ $nFiles%,d manifest entries: plan cold ${tCold}%6.3f s, " +
      f"warm ${tWarm}%8.5f s (${tCold / tWarm}%,.0f×) — parse once per snapshot; " +
      f"point plan ${tPoint}%6.2f ms (const index), clustered-range point " +
      f"${tRange}%6.2f ms / span ${tSpan}%6.2f ms (disjoint-interval index)")
    require(tCold / tWarm >= 10.0,
      f"manifest cache must cut plan time ≥10× (got ${tCold / tWarm}%.1f×)")
    // a NEW commit (different manifest) must re-parse — never stale
    val l2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$mftT/_snapshots/v1.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$mftT/_snapshots/v2.json"),
      (l2 + s"$mftT/data/fake_extra.parquet\nR $mftT/data/fake_extra.parquet\t7\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    require(CowTable.snapshotFiles(mftT).size == nFiles + 1,
      "new snapshot version must be re-read, not served stale")
    } // end mft section

    if (only.forall(_ == "wrt")) {
    // ---- round-17: write-side distribution before/after -----------------
    // 10M rows into an identity-partitioned (16 values) catalog table,
    // from a deliberately scattered 32-partition upstream. AFTER = the
    // V2 write face (RequiresDistributionAndOrdering clustering): one
    // file per partition value. BEFORE = the undistributed layout the
    // V1 fallback produced, reproduced via CowTable.append of the same
    // scattered frame (partitionBy splits per task): tasks × values
    // files. The file count IS the pushdown story: the clustered table
    // answers a filtered aggregate manifest-only over 16 entries; the
    // scattered one carries 512 and, at 100 TB, tiny-file IO and
    // manifest bloat in proportion.
    import graft.sinks.{CowTable, PartitionTransform}
    val wrtWh = "/tmp/graft_scalebench_wrt"
    val wrtRoot = java.nio.file.Paths.get(wrtWh)
    if (java.nio.file.Files.exists(wrtRoot)) graft.sinks.CowCatalog.deleteTree(wrtRoot)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$wrtWh/ns"))
    spark.conf.set("spark.sql.catalog.wrtcat", classOf[graft.sinks.CowCatalog].getName)
    spark.conf.set("spark.sql.catalog.wrtcat.root", wrtWh)
    def src = spark.range(10000000L).select(col("id"),
      pmod(col("id"), lit(16L)).as("grp"),
      sha2(concat(col("id").cast("string"), lit("w")), 256).as("pad"))
      .repartition(32) // every upstream partition holds every grp
    spark.sql("CREATE TABLE wrtcat.ns.t (id BIGINT, grp BIGINT, pad STRING) " +
      "PARTITIONED BY (grp)")
    val tA0 = System.nanoTime()
    src.createOrReplaceTempView("wrt_src")
    spark.sql("INSERT INTO wrtcat.ns.t SELECT id, grp, pad FROM wrt_src")
    val tAfter = (System.nanoTime() - tA0) / 1e9
    val fAfter = CowTable.snapshotFiles(s"$wrtWh/ns/t").size
    // BEFORE twin: same rows, same partition spec, no distribution
    val tB0 = System.nanoTime()
    CowTable.create(src, s"$wrtWh/ns/t_undist",
      Seq(PartitionTransform.identity("grp")))
    val tBefore = (System.nanoTime() - tB0) / 1e9
    val fBefore = CowTable.snapshotFiles(s"$wrtWh/ns/t_undist").size
    // clustering is NON-STRICT by design: AQE splits a partition value
    // whose bytes exceed the advisory size across several tasks (a hot
    // day at 100 TB SHOULD fan out rather than straggle), so the gate
    // is "order of the value count", not exactly one file per value —
    // every file is still partition-constant (directory layout)
    require(fAfter <= 2 * 16, s"clustered INSERT wrote $fAfter files (want ≤32)")
    require(fBefore >= 16 * 8, s"undistributed twin should scatter, got $fBefore")
    // the layout pays off at read: exact-filter + agg pushdown answers
    // manifest-only on the SQL-written table
    CowTable.setStatsColumns(spark, s"$wrtWh/ns/t", Seq("grp", "id"))
    val q = spark.sql("SELECT count(*) c, sum(id) s FROM wrtcat.ns.t WHERE grp = 7")
    require(q.queryExecution.executedPlan.toString.contains("CowAggScan"),
      "filtered aggregate must answer from the manifest on SQL-written data")
    val r7 = q.collect().head
    require(r7.getLong(0) == 625000L, r7.toString)
    println(f"[scalebench] wrt @ 10M rows, 16 identity partitions: clustered " +
      f"INSERT $fAfter%d files in ${tAfter}%5.1f s vs undistributed " +
      f"$fBefore%d files in ${tBefore}%5.1f s (${fBefore / fAfter}%dx fewer " +
      "files; filtered count+sum answers manifest-only, zero data reads)")
    } // end wrt section

    if (only.forall(_ == "zow")) {
    // ---- round-18: write-side Z-ORDER vs 1-D clustering (task 7) -------
    // 10M rows with two INDEPENDENT uniform keys x, y ∈ [0, 10000).
    // Both tables land through plain SQL INSERT on the V2 write face;
    // the only difference is the stored z-order spec: (x, y) vs (x).
    // The 2-D curve must give a selective predicate on EITHER column a
    // pruned file list, where the 1-D layout prunes only its leading
    // column — the payoff of the r17 range machinery for multi-column
    // predicates, now produced by ordinary INSERTs instead of a
    // cluster() rewrite pass. Plus the r18 ordered-prefix TopN: ORDER
    // BY x LIMIT 10 on the 1-D table plans O(covering) files.
    import graft.sinks.CowTable
    val zowWh = "/tmp/graft_scalebench_zow"
    val zowRoot = java.nio.file.Paths.get(zowWh)
    if (java.nio.file.Files.exists(zowRoot)) graft.sinks.CowCatalog.deleteTree(zowRoot)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$zowWh/ns"))
    spark.conf.set("spark.sql.catalog.zowcat", classOf[graft.sinks.CowCatalog].getName)
    spark.conf.set("spark.sql.catalog.zowcat.root", zowWh)
    def zsrc = spark.range(10000000L).select(col("id"),
      pmod(xxhash64(col("id")), lit(10000L)).as("x"),
      pmod(xxhash64(col("id") + 7), lit(10000L)).as("y"),
      sha2(concat(col("id").cast("string"), lit("z")), 256).as("pad"))
    zsrc.createOrReplaceTempView("zow_src")
    spark.sql("CREATE TABLE zowcat.ns.z2 (id BIGINT, x BIGINT, y BIGINT, pad STRING)")
    spark.sql("CREATE TABLE zowcat.ns.z1 (id BIGINT, x BIGINT, y BIGINT, pad STRING)")
    CowTable.setZorderBounds(spark, s"$zowWh/ns/z2",
      Seq(("x", 0.0, 9999.0), ("y", 0.0, 9999.0)))
    CowTable.setZorderBounds(spark, s"$zowWh/ns/z1", Seq(("x", 0.0, 9999.0)))
    CowTable.setStatsColumns(spark, s"$zowWh/ns/z2", Seq("x", "y"))
    CowTable.setStatsColumns(spark, s"$zowWh/ns/z1", Seq("x", "y"))
    val tZ0 = System.nanoTime()
    spark.sql("INSERT INTO zowcat.ns.z2 SELECT id, x, y, pad FROM zow_src")
    val tZ2 = (System.nanoTime() - tZ0) / 1e9
    val tZ1s = System.nanoTime()
    spark.sql("INSERT INTO zowcat.ns.z1 SELECT id, x, y, pad FROM zow_src")
    val tZ1 = (System.nanoTime() - tZ1s) / 1e9
    val fz2 = CowTable.snapshotFiles(s"$zowWh/ns/z2").size
    val fz1 = CowTable.snapshotFiles(s"$zowWh/ns/z1").size
    require(fz2 >= 8 && fz1 >= 8, s"expected a fan-out, got z2=$fz2 z1=$fz1")
    // a 5%-of-domain predicate per column: kept-file fractions
    def kept(t: String, c: String): Int =
      CowTable.prunedFilesRange(spark, s"$zowWh/ns/$t", c,
        Some(0L), Some(499L)).size
    val (kx2, ky2) = (kept("z2", "x"), kept("z2", "y"))
    val (kx1, ky1) = (kept("z1", "x"), kept("z1", "y"))
    require(kx2 <= fz2 / 2 && ky2 <= fz2 / 2,
      s"2-D curve must prune BOTH columns: x $kx2/$fz2, y $ky2/$fz2")
    require(kx1 <= fz1 / 2, s"1-D leading column must prune: $kx1/$fz1")
    require(ky1 == fz1,
      s"1-D layout cannot prune its second column: $ky1/$fz1")
    // correctness: pruned read ≡ full answer on the 2-D table
    val zExp = spark.sql(
      "SELECT count(*) c, sum(id) s FROM zowcat.ns.z2 WHERE y BETWEEN 0 AND 499")
      .head()
    val zGot = spark.read.parquet(CowTable.prunedFilesRange(spark,
        s"$zowWh/ns/z2", "y", Some(0L), Some(499L)): _*)
      .filter(col("y").between(0L, 499L))
      .agg(count(lit(1)), sum(col("id"))).head()
    require(zGot.getLong(0) == zExp.getLong(0) && zGot.getLong(1) == zExp.getLong(1),
      s"pruned read must equal full answer: $zGot vs $zExp")
    // ordered-prefix TopN at scale: ORDER BY x LIMIT 10 on the 1-D
    // table plans only the covering prefix (disjoint range index)
    val topn = spark.sql("SELECT x FROM zowcat.ns.z1 ORDER BY x LIMIT 10")
    topn.collect()
    def nscan(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      (p +: p.children.flatMap(nscan)) ++ (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          nscan(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          nscan(qs.plan)
        case _ => Seq.empty
      })
    val topnParts = nscan(topn.queryExecution.executedPlan).collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDD.getNumPartitions
    }.getOrElse(-1)
    require(topnParts >= 1 && topnParts <= 2,
      s"ordered TopN must plan O(covering) files, planned $topnParts of $fz1")
    println(f"[scalebench] zow @ 10M rows: 2-D z INSERT ${tZ2}%5.1f s " +
      f"($fz2%d files, 5%% predicate keeps x $kx2%d / y $ky2%d) vs 1-D " +
      f"${tZ1}%5.1f s ($fz1%d files, keeps x $kx1%d / y $ky1%d=ALL); " +
      f"ORDER BY x LIMIT 10 plans $topnParts%d file(s); pruned read " +
      "checksum-equal")
    } // end zow section

    if (only.forall(_ == "upd")) {
    // ---- round-15: SQL UPDATE write cost ∝ touched files --------------
    // A 10M-row id-range-clustered CowTable (64 files) takes a narrow
    // SQL UPDATE (one id band ≈ 2 files) and a full-width one (every
    // row): the narrow rewrite must touch only the band's files and
    // carry the rest by reference, so its write cost tracks the TOUCHED
    // data, not the table. Equality gate: the updated snapshot matches
    // an independent DataFrame recompute of the expected state,
    // checksum-exact. The probe scan is one column-pruned pass either
    // way (the same price DELETE pays); at 100 TB manifest range stats
    // bound even that (the predicate names the clustering key).
    import graft.sinks.CowTable
    val updWh = "/tmp/graft_scalebench_upd"
    val updRoot = java.nio.file.Paths.get(updWh)
    if (java.nio.file.Files.exists(updRoot)) graft.sinks.CowCatalog.deleteTree(updRoot)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$updWh/ns"))
    CowTable.create(spark.range(10000000L).select(col("id"),
        pmod(xxhash64(col("id")), lit(1000L)).as("v"),
        pmod(xxhash64(col("id") + 3), lit(100L)).as("w"))
      .repartitionByRange(64, col("id")), s"$updWh/ns/t")
    spark.conf.set("spark.sql.catalog.updcat", classOf[graft.sinks.CowCatalog].getName)
    spark.conf.set("spark.sql.catalog.updcat.root", updWh)
    val updV1 = CowTable.currentVersion(s"$updWh/ns/t")
    val updF1 = CowTable.snapshotFiles(s"$updWh/ns/t", Some(updV1)).toSet
    def checksum(df: org.apache.spark.sql.DataFrame): String =
      df.agg(count(lit(1)), sum(col("v")), sum(col("w")),
        sum(col("v") * col("w"))).head().toString
    // independent expectation: both updates applied to the ORIGINAL rows
    val updExpected = checksum(spark.read.parquet(updF1.toSeq: _*)
      .select(col("id"),
        when(col("id").between(3000000L, 3299999L), col("v") + 7)
          .otherwise(col("v")).as("v0"), col("w"))
      .select(col("id"), col("v0").as("v"),
        when(col("v0") % 10 === 0, col("w") * 2).otherwise(col("w")).as("w")))
    val tN0 = System.nanoTime()
    spark.sql("UPDATE updcat.ns.t SET v = v + 7 WHERE id BETWEEN 3000000 AND 3299999")
    val tNarrow = (System.nanoTime() - tN0) / 1e9
    val updV2 = CowTable.currentVersion(s"$updWh/ns/t")
    val updF2 = CowTable.snapshotFiles(s"$updWh/ns/t", Some(updV2)).toSet
    val carried = (updF1 & updF2).size
    val rewrote = updF1.size - carried
    require(rewrote <= 4,
      s"narrow UPDATE must rewrite only the band's files: rewrote $rewrote of ${updF1.size}")
    val tF0 = System.nanoTime()
    spark.sql("UPDATE updcat.ns.t SET w = w * 2 WHERE v % 10 = 0")
    val tFull = (System.nanoTime() - tF0) / 1e9
    val updV3 = CowTable.currentVersion(s"$updWh/ns/t")
    val updF3 = CowTable.snapshotFiles(s"$updWh/ns/t", Some(updV3)).toSet
    require((updF2 & updF3).isEmpty || (updF2 & updF3).size < updF2.size,
      "full-width UPDATE rewrites the touched files")
    val updGot = checksum(CowTable.read(spark, s"$updWh/ns/t"))
    require(updGot == updExpected, s"UPDATE diverged: $updGot vs $updExpected")
    // time travel: the pre-update snapshot is untouched
    require(CowTable.read(spark, s"$updWh/ns/t", Some(updV1))
      .filter(col("id") === 3000000L).head().getLong(1) ==
      CowTable.read(spark, s"$updWh/ns/t", Some(updV2))
        .filter(col("id") === 3000000L).head().getLong(1) - 7,
      "time travel must see the pre-update value")
    println(f"[scalebench] upd @ 10M/64 files: narrow band UPDATE " +
      f"rewrote $rewrote of ${updF1.size} files in ${tNarrow}%5.2f s " +
      f"(carried $carried by reference); full-width UPDATE " +
      f"(${(updF2 -- updF3).size} files) ${tFull}%5.2f s; " +
      f"checksum-equal to the independent recompute, time travel intact")
    } // end upd section

    if (only.forall(_ == "lookup")) {
    // ---- round-13: per-file key lookup sidecars (VERDICT r12 #2) -------
    // The shape range stats can NEVER prune: a fact clustered by its
    // OWN key (the realistic time/arrival layout) probed by an IN on a
    // hash-distributed FK. Every file's [min,max] on the FK spans the
    // whole domain — range stats open ALL 64 files — but each specific
    // key's rows are arrival-contiguous (a customer's orders land
    // together), so per-file membership blooms open only the files
    // that can hold the probed keys. This is the KIP-213 FK-scan /
    // band-index-probe shape the bloom `B` sidecars exist for.
    import graft.sinks.CowTable
    val lDir = "/tmp/graft_scalebench_lookup"
    val lRoot = java.nio.file.Paths.get(lDir)
    if (java.nio.file.Files.exists(lRoot)) graft.sinks.CowCatalog.deleteTree(lRoot)
    val plt = s"$lDir/fact"
    // 8M facts, 64 oid-range files; cust = hash(oid/10): 10 contiguous
    // oids share a cust, cust VALUES hash-scattered over 800k — per
    // file ~12.5k distinct custs whose min/max covers ~the full domain
    CowTable.create(spark.range(8000000L).select(col("id").as("oid"),
        pmod(xxhash64((col("id") / 10L).cast("long")), lit(800000L)).as("cust"),
        pmod(xxhash64(col("id")), lit(100000L)).as("amount"))
      .repartitionByRange(64, col("id")), plt)
    CowTable.setStatsColumns(spark, plt, Seq("oid", "cust"))
    val tLB0 = System.nanoTime()
    // ~12.5k keys/file at 2^18 bits ≈ 21 bits/key — comfortably unsaturated
    CowTable.setLookupColumns(spark, plt, Seq("cust"), dictMax = 128,
      bloomBits = 1 << 18)
    val tLB = (System.nanoTime() - tLB0) / 1e9
    val probeKeys: Seq[Any] = (0 until 8).map(i =>
      Long.box((spark.range(1).select(
        pmod(xxhash64(lit(i * 99991L + 3L)), lit(800000L))).collect().head.getLong(0))))
    val allF = CowTable.snapshotFiles(plt).size
    val openB = CowTable.prunedFilesIn(spark, plt, "cust", probeKeys).size
    // range stats alone (the pre-bloom world): rebuild the same table
    // without a lookup spec and prune the same IN
    val pltR = s"$lDir/factR"
    CowTable.create(CowTable.read(spark, plt).repartitionByRange(64, col("oid")), pltR)
    CowTable.setStatsColumns(spark, pltR, Seq("oid", "cust"))
    val openR = CowTable.prunedFilesIn(spark, pltR, "cust", probeKeys).size
    def lchk(df: org.apache.spark.sql.DataFrame): (Long, String, Double) = {
      val t0 = System.nanoTime()
      val r = df.filter(col("cust").isInCollection(probeKeys))
        .agg(count(lit(1)), sum(xxhash64(col("oid"), col("cust"), col("amount"))
          .cast("decimal(38,0)"))).collect().head
      (r.getLong(0), r.getDecimal(1).toString, (System.nanoTime() - t0) / 1e9)
    }
    val (cLF, hLF, tLF) = lchk(CowTable.read(spark, plt))
    val (cLP, hLP, tLP) = lchk(CowTable.readPrunedIn(spark, plt, "cust", probeKeys))
    require(cLF == cLP && hLF == hLP,
      s"bloom-pruned read diverged: ($cLF,$hLF) vs ($cLP,$hLP)")
    require(cLF > 0L, "probe keys must match rows")
    println(f"[scalebench] lookup @ 8M facts / 64 files, 8-key FK IN: " +
      f"bloom sidecars open $openB of $allF files (range stats alone: $openR) — " +
      f"full ${tLF}%5.2f s vs pruned ${tLP}%5.2f s, checksum-equal " +
      f"(bloom backfill ${tLB}%5.2f s once)")
    } // end lookup section

    val dir = "/tmp/graft_scalebench"
    def time(name: String): (Long, Double) = {
      val t0 = System.nanoTime()
      val c = SparkEntry.queries(name)(spark, dir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scalebench] $name%-22s rows=$c%6d  ${sec}%8.2f s")
      (c, sec)
    }

    if (only.isEmpty) {
    val copies = 20
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val big = base
      .crossJoin(spark.range(copies).select(col("id").as("copy")))
      .select(
        (col("doc_id") * copies + col("copy")).as("doc_id"),
        // copy 0 keeps the original text (the true near-dup pairs
        // survive); copies > 0 get 8 unique tokens, dropping their
        // cross-copy Jaccard to ~0.76 — below the 0.9 threshold but
        // ABOVE what banding tuned for recall-1@0.9 rejects, i.e. the
        // candidate-flood worst case for LSH on this tiny-vocab corpus
        when(col("copy") === 0, col("text")).otherwise(
          concat(col("text"),
            concat_ws("", (0 until 8).map(i =>
              concat(lit(s" u${i}_"), col("doc_id") * copies + col("copy"))): _*)))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
    big.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    println(s"[scalebench] corpus: $n docs")

    val (rowsExact, tExact) = time("dedup_near_jaccard")
    val (rowsLsh, tLsh) = time("dedup_minhash_lsh")
    println(f"[scalebench] speedup exact/lsh = ${tExact / tLsh}%.1f x; " +
      s"equal results = ${rowsExact == rowsLsh}")

    // ---- round-5: shingle dedup, exact O(n²) blocks vs MinHash bands -----
    // same corpus, same J>=0.8 contract; the banded twin's candidate
    // phase shuffles (id, block, band, bucket) only — linear in docs
    val (rowsNgExact, tNgExact) = time("dedup_ngram_jaccard")
    val (rowsNgBand, tNgBand) = time("dedup_ngram_banded")
    println(f"[scalebench] speedup ngram exact/banded = ${tNgExact / tNgBand}%.1f x; " +
      s"equal results = ${rowsNgExact == rowsNgBand}")
    } // end legacy corpus sections

    if (only.forall(_ == "het")) {
    // ---- round-7: heterogeneous-vocabulary corpus — the LSH win regime ---
    // The replicated-sf0.1 corpus above is LSH's worst case (31-token
    // vocabulary → every same-block pair is J ≈ 0.7–0.8, so banding
    // tuned recall-1@0.9 floods candidates). This corpus is the regime
    // real web-scale dedup lives in: 30 tokens drawn from a 50k
    // vocabulary via md5 (random pairs share ~0 tokens), with one
    // planted near-copy (J = 29/31 ≈ 0.935) per 50 docs. Same-block
    // pairs are now overwhelmingly DISSIMILAR: the exact join still
    // pays every in-block pair, banding's candidates collapse to
    // ~the planted pairs — linear, the designed 100 TB behavior.
    val hetDir = "/tmp/graft_scalebench_het"
    val nBase = 100000L
    val tokExpr = "transform(sequence(0, 29), j -> concat('w', cast(" +
      "pmod(cast(conv(substring(md5(concat(bid, '_', j)), 1, 8), 16, 10) as bigint), 50000) as string)))"
    val langArr = "array('en', 'de', 'fr', 'es', 'zh')"
    val srcArr = "array('web', 'wiki', 'book', 'code')"
    val hetBase = spark.range(nBase).select(col("id").as("bid"))
      .withColumn("tk", expr(tokExpr))
      .select(col("bid").as("doc_id"), array_join(col("tk"), " ").as("text"),
        expr(s"element_at($langArr, cast(bid % 5 + 1 as int))").as("lang"),
        expr(s"element_at($srcArr, cast(bid % 4 + 1 as int))").as("source"))
    val hetDups = spark.range(nBase / 50)
      .select((col("id") * 50).as("bid"), (col("id") + nBase).as("doc_id"))
      .withColumn("tk", expr(tokExpr))
      // drop the last token, append a unique one: |A∩B| = 29, |A∪B| = 31
      .withColumn("tk2", expr("concat(slice(tk, 1, 29), array(concat('d', doc_id)))"))
      .select(col("doc_id"), array_join(col("tk2"), " ").as("text"),
        expr(s"element_at($langArr, cast(bid % 5 + 1 as int))").as("lang"),
        expr(s"element_at($srcArr, cast(bid % 4 + 1 as int))").as("source"))
    hetBase.unionByName(hetDups)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$hetDir/documents.parquet")
    val nHet = spark.read.parquet(s"$hetDir/documents.parquet").count()
    println(s"[scalebench] heterogeneous corpus: $nHet docs, vocab 50k, " +
      s"${nBase / 50} planted near-dup pairs")
    def timeHet(name: String): (Set[(Long, Long)], Double) = {
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(name)(spark, hetDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scalebench] het $name%-22s pairs=${rows.size}%6d  ${sec}%8.2f s")
      (rows, sec)
    }
    val (pairsHetExact, tHetExact) = timeHet("dedup_near_jaccard")
    val (pairsHetLsh, tHetLsh) = timeHet("dedup_minhash_lsh")
    println(f"[scalebench] het speedup exact/lsh = ${tHetExact / tHetLsh}%.1f x; " +
      s"equal results = ${pairsHetExact == pairsHetLsh}")
    } // end het section

    if (only.isEmpty) {
    // ---- sign-LSH ANN recall + crossover at 100k clustered vectors ------
    // (the regime real embedding corpora live in; the sf corpora are
    // near-random and too small for 16-bit buckets to mean anything)
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.vec_dot
    val dims = 64
    val nVec = 100000L
    val corpus = graft.ops.Pipeline
      .clusteredCorpus(spark, nVec, clusters = 2000, dims = dims, noise = 0.05)
      .cache()
    corpus.count()
    val nQ = 50
    def recallOf(bits: Int, radius: Int): (Double, Double) = {
      val t0 = System.nanoTime()
      val got = graft.ops.Pipeline
        .lshTopkDf(corpus, col("vec_id") < nQ, dims, bits, radius, 3)
        .collect().map(r => (r.getAs[Long]("q"), r.getAs[Long]("n"))).toSet
      val sec = (System.nanoTime() - t0) / 1e9
      val q = corpus.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("ve").as("qe"))
      val w = Window.partitionBy("qid").orderBy(col("s").desc, col("vec_id"))
      val exact = q.join(corpus, col("vec_id") =!= col("qid"))
        .withColumn("s", vec_dot(col("qe"), col("ve")) /
          (sqrt(vec_dot(col("qe"), col("qe"))) * sqrt(vec_dot(col("ve"), col("ve")))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
      (got.intersect(exact).size.toDouble / exact.size, sec)
    }
    Seq((16, 1), (16, 2), (20, 2)).foreach { case (b, r) =>
      val (rec, sec) = recallOf(b, r)
      println(f"[scalebench] lsh bits=$b radius=$r  recall@3=$rec%.3f  ${sec}%6.2f s")
    }

    // ---- connected components at 1M edges --------------------------------
    // deterministic worst-ish-diameter graph: 100k chains of length 10
    // (1M nodes, 900k edges, diameter 10 → ~10 label-propagation rounds)
    val chains = spark.range(1000000L)
      .filter(col("id") % 10 =!= 9) // last node of each chain has no out-edge
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val t0 = System.nanoTime()
    val cc = graft.ops.Scale.connectedComponents(chains, "src", "dst")
    val nComponents = cc.select("label").distinct().count()
    val ccSec = (System.nanoTime() - t0) / 1e9
    println(f"[scalebench] connected-components 1M nodes/900k edges: " +
      f"$nComponents%d components in ${ccSec}%6.2f s (expect 100000)")

    // ---- round-5: star contraction vs propagation round counts -----------
    // same short-chain graph (diameter 10): star should need FEWER
    // rounds than the ~10 propagation pays; then a single 100k-node
    // path (diameter 1e5) where propagation is infeasible (1e5 rounds)
    // and star converges in O(log n)
    val st0 = System.nanoTime()
    val (starLabels, starRounds) =
      graft.ops.Scale.connectedComponentsStar(chains, "src", "dst")
    val starComponents = starLabels.select("label").distinct().count()
    val stSec = (System.nanoTime() - st0) / 1e9
    println(f"[scalebench] star-contraction same graph: $starComponents%d components " +
      f"in $starRounds%d rounds / ${stSec}%6.2f s (propagation pays ~10 rounds)")
    val longChain = spark.range(99999L)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val lc0 = System.nanoTime()
    val (lcLabels, lcRounds) =
      graft.ops.Scale.connectedComponentsStar(longChain, "src", "dst")
    val lcOk = lcLabels.agg(max("label")).collect().head.getLong(0)
    val lcSec = (System.nanoTime() - lc0) / 1e9
    println(f"[scalebench] star-contraction 100k-node path (diameter 1e5): " +
      f"1 component (max label=$lcOk%d) in $lcRounds%d rounds / ${lcSec}%6.2f s" +
      " (propagation would need ~1e5 rounds)")

    // ---- round-3: pipeline ops on the 100k-doc corpus --------------------
    // decontamination is inverted-index shaped (linear gram volume); the
    // shard export rides globalRank — both should scale like a keyed agg
    time("decontaminate_ngram")
    time("corpus_shuffle_shards")

    // ---- globalRank vs the single-partition window at 10M rows -----------
    // the concrete cost of the plan Scale.globalRank exists to avoid
    val big10 = spark.range(10000000L)
      .select(col("id"), pmod(xxhash64(col("id")), lit(1000000L)).as("v")).cache()
    big10.count()
    val tg0 = System.nanoTime()
    val rankedMax = graft.ops.Scale
      .globalRank(big10, shiftright(col("v"), 56), Seq(col("v"), col("id")))
      .agg(max("__rn")).collect().head.getLong(0)
    val tg = (System.nanoTime() - tg0) / 1e9
    println(f"[scalebench] globalRank 10M rows (256 hash buckets): max rn=$rankedMax in ${tg}%6.2f s")
    val tw0 = System.nanoTime()
    val wMax = big10
      .withColumn("rn", row_number().over(Window.orderBy("v", "id")))
      .agg(max("rn")).collect().head.getInt(0)
    val tw = (System.nanoTime() - tw0) / 1e9
    println(f"[scalebench] Window.orderBy 10M rows (single partition): max rn=$wMax in ${tw}%6.2f s" +
      f" -> globalRank speedup ${tw / tg}%.1f x")

    // ---- round-4: bucketed interval join at 2M intervals -----------------
    // 2000 keys x 1000 intervals each over 10 years: the naive same-key
    // pairwise candidate phase is sum C(1000,2) x 2000 = 1e9 pairs —
    // infeasible; 30-day bucketing cuts candidates to the ~8 intervals
    // that share each (key, bucket), i.e. ~120x fewer, while the exact
    // overlap predicate keeps the result identical by construction.
    val W = 2592000L
    val tenYears = 315360000L
    val ivs = spark.range(2000000L).select(
      (col("id") % 2000).as("ck"), col("id").as("ok"),
      pmod(xxhash64(col("id")), lit(tenYears)).as("st"))
      .withColumn("en", col("st") + W)
    val bucketed = ivs.select(col("ck"), col("ok"), col("st"), col("en"),
      explode(sequence(floor(col("st") / W), floor(col("en") / W))).as("bk"))
    val bi0 = System.nanoTime()
    val nOverlap = bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.ck") === col("b.ck") && col("a.bk") === col("b.bk") &&
        col("a.ok") < col("b.ok") &&
        col("a.st") <= col("b.en") && col("b.st") <= col("a.en"))
      .select(col("a.ck").as("ck"), col("a.ok").as("a_ok"), col("b.ok").as("b_ok"))
      .dropDuplicates("ck", "a_ok", "b_ok")
      .count()
    val biSec = (System.nanoTime() - bi0) / 1e9
    println(f"[scalebench] bucketed interval join 2M intervals/2k keys: " +
      f"$nOverlap%d overlap pairs in ${biSec}%6.2f s (naive = 1e9 candidates)")

    // ---- round-4: union-and-fill resample at 16.8M grid rows -------------
    // 100k users x 168 hourly grid points forward-filled from 1M events:
    // the fill is one keyed window over the merged timeline — linear, no
    // band join whose width grows with history
    val weekS = 604800L
    val sevs = spark.range(1000000L).select(
      (col("id") % 100000).as("u"), pmod(xxhash64(col("id")), lit(weekS)).as("t"),
      lit(0).as("k"), pmod(xxhash64(col("id"), lit(1)), lit(100000)).as("v"))
    val sgrid = spark.range(100000L).select(col("id").as("u"),
        explode(sequence(lit(0L), lit(weekS - 3600), lit(3600L))).as("t"),
        lit(1).as("k"), lit(null).cast("long").as("v"))
    val rf0 = System.nanoTime()
    val wfill = Window.partitionBy("u").orderBy("t", "k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nFilled = sevs.unionByName(sgrid)
      .withColumn("fv", last(col("v"), ignoreNulls = true).over(wfill))
      .filter(col("k") === 1 && col("fv").isNotNull)
      .count()
    val rfSec = (System.nanoTime() - rf0) / 1e9
    println(f"[scalebench] resample-ffill 16.8M grid rows / 1M events / 100k users: " +
      f"$nFilled%d filled in ${rfSec}%6.2f s")

    // ---- round-4: degree-oriented triangles under a celebrity hub --------
    // 2M random edges over 100k nodes PLUS 50k edges all touching node 0.
    // Naive wedge enumeration pays C(50k, 2) = 1.25e9 wedges at the hub
    // alone; orientation gives the hub the HIGHEST (deg, id) order, so
    // every hub edge points INTO it and it generates zero wedges.
    val rnd = spark.range(2000000L).select(
      pmod(xxhash64(col("id")), lit(100000L)).as("src"),
      pmod(xxhash64(col("id"), lit(1)), lit(100000L)).as("dst"))
    val hub = spark.range(50000L).select(
      lit(0L).as("src"), (pmod(xxhash64(col("id"), lit(2)), lit(99999L)) + 1).as("dst"))
    val tc0 = System.nanoTime()
    val triRow = graft.ops.Scale.triangleCount(rnd.unionByName(hub)).collect().head
    val tcSec = (System.nanoTime() - tc0) / 1e9
    println(f"[scalebench] triangles 2M random edges + 50k-degree hub: " +
      f"${triRow.getLong(0)}%d triangles / ${triRow.getLong(1)}%d edges in ${tcSec}%6.2f s" +
      " (naive hub wedges alone = 1.25e9)")

    // ---- round-4: k-means + PCA at 100k vectors --------------------------
    // the same operators the sf corpora oracle-pin, at 50x the vectors:
    // k-means is a k-way broadcast fan-out per iteration, PCA's Gram
    // build is a shuffle-free nested-transform outer product
    val embDir = s"$dir/ml"
    corpus.select(col("vec_id"),
        expr("transform(ve, x -> cast(x as float))").as("embedding"),
        pmod(col("vec_id"), lit(10)).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$embDir/embeddings.parquet")
    val km0 = System.nanoTime()
    val kmRows = SparkEntry.queries("ml_kmeans_2iter")(spark, embDir).collect()
    val kmSec = (System.nanoTime() - km0) / 1e9
    println(f"[scalebench] kmeans 2 iters @ 100k vectors: " +
      f"${kmRows.map(_.getLong(1)).sum}%d assigned to ${kmRows.length}%d cells in ${kmSec}%6.2f s")
    val pc0 = System.nanoTime()
    val pcRows = SparkEntry.queries("embedding_pca_power")(spark, embDir).count()
    val pcSec = (System.nanoTime() - pc0) / 1e9
    println(f"[scalebench] pca power @ 100k vectors (409.6M gram cells): " +
      f"$pcRows%d dims in ${pcSec}%6.2f s")

    // ---- round-4: bounded-heap top-k vs window sort at 10M rows ----------
    // top-3 per key over 10M rows / 1k keys: the window formulation
    // shuffles and sorts all 10M; bottom_k's map-side heaps cut the
    // shuffle to <= 3 rows x keys x partitions
    val tk = spark.range(10000000L).select(
      (col("id") % 1000).as("key"), col("id").as("ok"),
      xxhash64(col("id")).cast("double").as("v")).cache()
    tk.count()
    val th0 = System.nanoTime()
    val heapN = tk.groupBy("key")
      .agg(graft.functions.TopKFunctions.bottom_k(
        struct((-col("v")).as("nv"), col("ok")), 3).as("top"))
      .select(col("key"), explode(col("top")))
      .count()
    val thSec = (System.nanoTime() - th0) / 1e9
    val tw0b = System.nanoTime()
    val winN = tk.withColumn("rn", row_number().over(
        Window.partitionBy("key").orderBy(col("v").desc, col("ok"))))
      .filter(col("rn") <= 3).count()
    val twSecB = (System.nanoTime() - tw0b) / 1e9
    println(f"[scalebench] top-3/key @ 10M rows, 1k keys: bottom_k ${thSec}%5.2f s " +
      f"($heapN rows) vs window ${twSecB}%5.2f s ($winN rows) -> ${twSecB / thSec}%.1f x")

    // ---- round-5: key-grouped scan vs shuffle agg @ 10M rows -------------
    // the SupportsReportPartitioning path: the keyed scan satisfies
    // ClusteredDistribution straight from the source, so the aggregate
    // plans ZERO exchanges; the range-partitioned form of the SAME
    // generator pays the full shuffle. Both verified row-identical.
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    def seqAgg(byUser: Boolean) = spark.read
      .format(classOf[graft.sources.SeqDataSource].getName)
      .option("rows", "10000000").option("users", "64")
      .option("slices", "64")
      .option("partitionByUser", byUser.toString).load()
      .groupBy("user_id").agg(count(lit(1)).as("c"), sum("value").as("v"))
    val kg0 = System.nanoTime()
    val kgRows = seqAgg(byUser = true).collect()
    val kgSec = (System.nanoTime() - kg0) / 1e9
    val kgPlan = seqAgg(byUser = true).queryExecution.executedPlan.toString
    assert(!kgPlan.contains("Exchange"), "key-grouped agg must plan no exchange")
    val sh0 = System.nanoTime()
    val shRows = seqAgg(byUser = false).collect()
    val shSec = (System.nanoTime() - sh0) / 1e9
    assert(kgRows.map(_.getLong(1)).sum == shRows.map(_.getLong(1)).sum)
    println(f"[scalebench] keyed agg @ 10M rows, 64 users: key-grouped scan " +
      f"${kgSec}%5.2f s (0 exchanges) vs shuffle ${shSec}%5.2f s -> ${shSec / kgSec}%.1f x")
    } // end post-het sections
    spark.stop()
  }
}
