package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.vec_dot
import graft.sinks.CowTable

/** PERSISTENT IVF ANN INDEX (round 12, VERDICT r11 task 2) — the
  * serving face of [[Pipeline.annIvfTopk]]'s per-invocation index.
  * The query form rebuilds centroids + assignments on every call:
  * honest as an end-to-end correctness contract, but at 100 TB the
  * k-means build dwarfs the probe, so a served index must be a TABLE,
  * not a plan. This module materializes the index as two [[CowTable]]s
  * beside the vector corpus — the [[IncrementalDedup]] pattern applied
  * to ANN:
  *
  *   - `indexPath/centroids` — (cid, ce, nc), tiny (numCells rows);
  *   - `indexPath/assign`    — (vec_id, cell), one row per corpus
  *     vector, the partitioning story at scale: each cell is a
  *     read-unit, [[CowTable.cluster]]-ing it by `cell` makes a probe
  *     of nprobe cells a file-skipping read;
  *   - `indexPath/_corpus_version` — the corpus snapshot the index
  *     reflects (same atomic marker protocol as the dedup band index).
  *
  * [[refresh]] advances the index from the corpus's CDC feed
  * ([[CowTable.changes]] — cost ∝ the delta, never the corpus):
  * new/updated vectors assign to the FROZEN stored centroids and land
  * rewrite-free as positional-delete-preimages + append-postimages
  * (the Iceberg-v2 upsert shape). Frozen-centroid maintenance keeps
  * the exact invariant a probe needs — every live vector sits in its
  * argmax-cosine cell UNDER THE INDEX'S CENTROIDS (IvfIndexSpec proves
  * refreshed == full-reassign equality) — while centroid drift is
  * watched, not ignored: the centroid table carries RUNNING per-cell
  * component sums, so each refresh folds the delta in (O(delta), the
  * `embedding_centroid_shift` trigger metric from ops/Metrics.scala in
  * per-cell form) and re-seeds the whole index via [[buildIndex]] only
  * when the worst relative centroid shift crosses the declared
  * threshold — the "reindex on drift" cadence every production ANN
  * service runs.
  *
  * The k-means primitives here are THE implementation —
  * [[Pipeline.ivfIndex]] delegates — so the persistent index built
  * from the full corpus is bit-identical to the query form's
  * (1e-3-quantized centroids, smallest-cid tiebreaks; see
  * [[Pipeline.annIvfTopk]]'s determinism story) and `ann_ivf_persistent`
  * shares `ann_ivf_topk`'s DuckDB oracle verbatim.
  *
  * Corpus table contract: (vec_id: long, ve: array<float|double>),
  * vec_id unique.
  */
object IvfIndex {

  // ---- k-means primitives (shared with Pipeline.ivfIndex) ----------------

  /** (vec_id, ve) → + `nv` (the L2 norm, computed once per vector). */
  def withNorm(vecs: DataFrame): DataFrame =
    vecs.withColumn("nv", sqrt(vec_dot(col("ve"), col("ve"))))

  /** Argmax-cosine cell per vector, centroids broadcast. Ties break to
    * the SMALLEST cid explicitly: 1e-3-quantized centroids can
    * collide, giving exactly equal scores, and max_by/arg_max leave
    * that choice engine- and partition-order-dependent — the
    * row_number tiebreak (mirrored verbatim in the oracle SQL) keeps
    * the whole index bit-reproducible.
    */
  def assignTo(v: DataFrame, c: DataFrame): DataFrame = {
    val wa = Window.partitionBy("vec_id").orderBy(col("s").desc, col("cid"))
    v.join(broadcast(c), lit(true))
      .withColumn("s", vec_dot(col("ve"), col("ce")) / (col("nv") * col("nc")))
      .withColumn("rr", row_number().over(wa))
      .filter(col("rr") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
  }

  /** Component-wise 1e-3-quantized means of each cell's members
    * (quantization makes parallel-summation-order differences — ~1e-13
    * across engines — vanish, so centroids are bit-reproducible).
    */
  def centroidsFrom(v: DataFrame, assign: DataFrame): DataFrame =
    assign.join(v.select("vec_id", "ve"), "vec_id")
      .select(col("cell"), posexplode(col("ve")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg((round(avg(col("x")) * 1000) / 1000).as("mval"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mval")))),
                     e => e.getField("mval")).as("ce"))
      .select(col("cell").as("cid"), col("ce"))
      .withColumn("nc", sqrt(vec_dot(col("ce"), col("ce"))))

  /** Deterministic seeds: the `n` smallest vec_ids, cid = vec_id — a
    * fixed, data-independent choice the oracle's c0 derives the SAME
    * way (`ORDER BY vec_id LIMIT n`), so the two sides agree on any
    * corpus, sparse or offset ids included.
    */
  def seedsOf(v: DataFrame, n: Int): DataFrame =
    v.orderBy("vec_id").limit(n)
      .select(col("vec_id").as("cid"), col("ve").as("ce"), col("nv").as("nc"))

  /** Lloyd iterations: `iters` rounds of {assign, recompute quantized
    * means}. Assignment is a broadcast cross join (shuffle-parallel),
    * means are a two-level groupBy (map-side partials).
    */
  def kmeans(v: DataFrame, seeds: DataFrame, iters: Int): DataFrame =
    (1 to iters).foldLeft(seeds)((c, _) => centroidsFrom(v, assignTo(v, c)))

  // ---- persistent index --------------------------------------------------

  private def centroidsPath(indexPath: String) = s"$indexPath/centroids"
  private def assignPath(indexPath: String) = s"$indexPath/assign"
  private def markerPath(indexPath: String) = Paths.get(indexPath, "_corpus_version")
  private def corpusMarkerPath(indexPath: String) = Paths.get(indexPath, "_corpus_path")

  // ---- compressed list codecs (IVF-SQ8 round 14, IVF-PQ round 15) ---------
  //
  // Probe IO at 100 TB is dominated by raw vector bytes in the
  // assignment lists; the standard FAISS answer is scalar-quantized
  // lists with exact rerank from the corpus floats. Per vector:
  // sc = max|x|/127 (worst relative component error 1/254), vq_i =
  // round(x_i/sc) as TINYINT — 8x fewer list bytes than float64.
  // EVERY list consumer (preimage capture, drift stats, repairStats,
  // the probe's candidate scoring) reads through [[decodeLists]], so
  // the running stats live consistently in the DEQUANTIZED domain:
  // preimage sums, postimage sums and a crash repair all reproduce the
  // same values (the IvfIndexSpec sq8 parity law). The probe scores
  // candidates on the quantized form (that IS vec_dot over decoded
  // int8), keeps rerankFactor*k per query, and re-scores those few
  // against the CORPUS floats — the emitted top-k is exact over the
  // candidate set, so quantization can only affect which tail
  // candidates survive the cut, the recall-gated property.

  // ---- product quantization (IVF-PQ, round 15) ----------------------------
  //
  // One level below SQ8: split each vector into m subvectors, k-means
  // a ks-entry codebook PER SUBSPACE, store each list vector as m
  // 1-byte codes (64-dim float64 512 B → sq8 64 B → pq-8 8 B). The
  // reconstruction ve ≈ concat(cw[s][code_s]) rides the SAME decode
  // seam as sq8, so every consumer (drift stats, repair, the probe's
  // candidate scoring) stays consistent in the decoded domain — and
  // the probe's reconstruct-then-dot IS asymmetric distance
  // computation: dot(q, concat(cw)) = Σ_s dot(q_s, cw[s][code_s]),
  // exactly the ADC lookup-table sum, without a separate LUT path.
  // The exact rerank from corpus floats then caps what quantization
  // can affect at the tail of the candidate cut (recall-gated).

  /** How list vectors are stored. Detected from the assign schema —
    * codecs never thread through public signatures.
    */
  private sealed trait ListCodec
  private case object FloatLists extends ListCodec
  private case object Sq8Lists extends ListCodec
  /** `cb(sub)(code)` = codeword (dsub doubles) — the DECODE table
    * (dead/missing codes read as zero vectors: only pre-retrain rows
    * can reference them, and the exact rerank bounds the effect).
    * `encCb` is the ENCODE table: dead codes carry +Infinity sentinels
    * so the argmin can only ever emit a TRAINED code — a zero fill
    * there would win the argmin for any subvector nearest the origin
    * and silently encode to an untrained code (ADVICE r15).
    */
  private final case class PqLists(m: Int, ks: Int, dsub: Int,
                                   cb: Seq[Seq[Seq[Double]]],
                                   encCb: Seq[Seq[Seq[Double]]]) extends ListCodec

  private def codebooksPath(indexPath: String) = s"$indexPath/codebooks"
  private def pqConfigPath(indexPath: String) = Paths.get(indexPath, "_pq_config")

  private def codecOf(spark: SparkSession, indexPath: String): ListCodec = {
    val cols = CowTable.read(spark, assignPath(indexPath)).columns
    if (cols.contains("vq")) Sq8Lists
    else if (cols.contains("pqc")) loadPqCodec(spark, indexPath)
    else FloatLists
  }

  private def loadPqCodec(spark: SparkSession, indexPath: String): PqLists = {
    val Array(m, ks) = new String(Files.readAllBytes(pqConfigPath(indexPath)),
      StandardCharsets.UTF_8).trim.split(" ").map(_.toInt)
    val rows = CowTable.read(spark, codebooksPath(indexPath))
      .orderBy("sub", "code").collect()
    val (cb, encCb) = (0 until m).map { s =>
      val bySub = rows.filter(_.getInt(0) == s)
      val byCode = bySub.map(r => r.getInt(1) -> r.getSeq[Double](2).toIndexedSeq).toMap
      val dsub = byCode.values.head.size
      // dead codes (emptied by retraining) must stay ADDRESSABLE
      // (decode of pre-retrain rows must not crash — they read as zero
      // vectors, bounded by the exact rerank) but never WINNABLE:
      // the encode table fills them with +Infinity so the argmin can
      // only emit trained codes (a zero fill would win near the origin)
      ((0 until ks).map(c => byCode.getOrElse(c, IndexedSeq.fill(dsub)(0.0))),
       (0 until ks).map(c => byCode.getOrElse(c,
         IndexedSeq.fill(dsub)(Double.PositiveInfinity))))
    }.unzip
    PqLists(m, ks, cb.head.head.size, cb, encCb)
  }

  /** Squared-L2 between two double arrays, as one codegen'd HOF. */
  private def l2sq(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (xx, yy) -> (xx - yy) * (xx - yy)), " +
      "cast(0.0 as double), (acc, zz) -> acc + zz)"

  /** Encode list rows for storage: `ve` -> (`vq`, `sc`) for sq8, or
    * (`pqc` m×int8 codes) for pq; identity on float lists. PQ encode
    * assigns each subvector to its nearest codeword (L2, smallest-code
    * tiebreak via array_position's first match — deterministic).
    * Codes store as tinyint code−128.
    */
  private def encodeLists(df: DataFrame, codec: ListCodec): DataFrame =
    codec match {
      case FloatLists => df
      case Sq8Lists => df
        .withColumn("sc", greatest(
          expr("aggregate(ve, cast(0.0 as double), (m, x) -> greatest(m, abs(x)))") / 127.0,
          lit(1e-30)))
        .withColumn("vq", expr("transform(ve, x -> cast(round(x / sc) as tinyint))"))
        .drop("ve")
      case PqLists(m, ks, dsub, _, encCb) => df
        // codegen'd m × ks × dsub argmin loop (round 16 — the HOF form
        // below, kept for the parity spec, was the measured index-build
        // cost center); identical distances, identical smallest-code
        // tiebreak, so codes are bit-identical by construction AND by test
        .withColumn("pqc", graft.functions.VectorFunctions.pq_encode(
          col("ve").cast("array<double>"), m, ks, dsub,
          encCb.flatten.flatten.toArray))
        .drop("ve")
    }

  /** The interpreted-HOF PQ encode the codegen [[encodeLists]] path
    * replaced — retained ONLY as the parity oracle (IvfIndexSpec
    * asserts bit-identical codes on every row).
    */
  private[graft] def pqEncodeHof(df: DataFrame, m: Int, dsub: Int,
                                 encCb: Seq[Seq[Seq[Double]]]): DataFrame = df
    .withColumn("__cb", typedLit(encCb))
    // subvector sliced ONCE per (row, sub); argmin is a single
    // aggregate pass over the codewords carrying (best dist, best
    // code, next index) — no dist array rebuild, no second scan
    .withColumn("pqc", expr(
      s"""transform(
            transform(sequence(0, ${m - 1}), s -> slice(ve, s * $dsub + 1, $dsub)),
            (sv, s) -> cast(
              aggregate(element_at(__cb, s + 1),
                named_struct('bd', cast('Infinity' as double), 'bi', 0, 'i', 0),
                (acc, cw) -> if (${l2sq("sv", "cw")} < acc.bd,
                  named_struct('bd', ${l2sq("sv", "cw")}, 'bi', acc.i, 'i', acc.i + 1),
                  named_struct('bd', acc.bd, 'bi', acc.bi, 'i', acc.i + 1)),
                acc -> acc.bi) - 128 as tinyint))"""))
    .drop("ve", "__cb")

  /** Read list rows back to the `ve` every consumer uses (identity on
    * float lists — schema-detected, so codecs never thread through
    * signatures).
    */
  private def decodeLists(df: DataFrame, codec: ListCodec): DataFrame =
    codec match {
      case FloatLists => df
      case Sq8Lists =>
        if (!df.columns.contains("vq")) df
        else df.withColumn("ve", expr("transform(vq, x -> cast(x as double) * sc)"))
          .drop("vq", "sc")
      case PqLists(_, _, _, cb, _) =>
        if (!df.columns.contains("pqc")) df
        else df.withColumn("__cb", typedLit(cb))
          .withColumn("ve", expr(
            "flatten(transform(pqc, (c, s) -> " +
              "element_at(element_at(__cb, s + 1), cast(c as int) + 129)))"))
          .drop("pqc", "__cb")
    }

  /** Per-subspace k-means codebooks: (sub, code, cw). Same determinism
    * discipline as the cell k-means — seeds are the ks smallest
    * vec_ids' subvectors, means 1e-3-quantized, argmin ties to the
    * smallest code.
    */
  private def trainCodebooks(v: DataFrame, m: Int, ks: Int, dsub: Int,
                             iters: Int): DataFrame = {
    val sdf = v.select(col("vec_id"), col("ve"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col("vec_id"), col("sub"),
        expr(s"slice(ve, sub * $dsub + 1, $dsub)").as("sv"))
    val seeds = v.orderBy("vec_id").limit(ks)
      .withColumn("code",
        row_number().over(Window.orderBy("vec_id")) - 1)
      .select(col("code"), col("ve"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col("sub"), col("code"),
        expr(s"slice(ve, sub * $dsub + 1, $dsub)").as("cw"))
    (1 to iters).foldLeft(seeds) { (cents, _) =>
      val wa = Window.partitionBy("vec_id", "sub")
        .orderBy(col("dist").asc, col("code").asc)
      sdf.join(broadcast(cents), Seq("sub"))
        .withColumn("dist", expr(l2sq("sv", "cw")))
        .withColumn("rr", row_number().over(wa))
        .filter(col("rr") === 1)
        .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("sub", "code", "pos")
        .agg((round(avg(col("x")) * 1000) / 1000).as("mval"))
        .groupBy("sub", "code")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("mval")))),
                       e => e.getField("mval")).as("cw"))
    }
  }

  /** (sq8, pq, pqCodes) buildIndex args reproducing `codec` — the
    * rebuild paths re-seed with the SAME list encoding the index
    * already carries.
    */
  private def buildParams(codec: ListCodec): (Boolean, Int, Int) = codec match {
    case FloatLists          => (false, 0, 0)
    case Sq8Lists            => (true, 0, 0)
    case PqLists(m, ks, _, _, _) => (false, m, ks)
  }
  private def rebuildIntentPath(indexPath: String) = Paths.get(indexPath, "_rebuilding")

  /** The txn appId [[refresh]] stamps on its atomic assign-table
    * upsert — the crash-detection handle: watermark ≥ target corpus
    * version with the marker still behind means "table write landed,
    * derived stats/marker did not" → [[repairStats]].
    */
  private[graft] val RefreshApp = "ivf_refresh"

  private def writeIndexedVersion(indexPath: String, v: Int): Unit = {
    Files.createDirectories(Paths.get(indexPath))
    val tmp = Paths.get(indexPath, s"._corpus_version.${CowTable.freshName()}.tmp")
    Files.write(tmp, v.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, markerPath(indexPath),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Whether an index exists at `indexPath` (its version marker is the
    * last artifact a successful [[buildIndex]] writes, so marker
    * presence == a complete index).
    */
  def exists(indexPath: String): Boolean = Files.exists(markerPath(indexPath))

  /** The corpus snapshot version the index currently reflects. */
  def indexedVersion(indexPath: String): Int =
    new String(Files.readAllBytes(markerPath(indexPath)),
      StandardCharsets.UTF_8).trim.toInt

  /** Full (re)build: k-means over the corpus's CURRENT snapshot,
    * centroids + assignments written as fresh CowTable versions, marker
    * advanced. Run once at bootstrap and again only when [[refresh]]
    * detects drift past its threshold; every routine corpus change
    * goes through [[refresh]].
    *
    * Table shapes (the FAISS/ScaNN inverted-list layout):
    *   - assign (vec_id, cell, ve, nv): the lists CARRY the vectors —
    *     a probe reads nprobe cells' files and reranks in place, never
    *     joining back to the corpus (the 2× vector storage every IVF
    *     service pays to keep query cost ∝ probed lists, not corpus);
    *   - centroids (cid, ce, nc, vsum, cnt): alongside each quantized
    *     centroid, the RUNNING per-cell component sums + member count
    *     that make [[refresh]]'s drift watch O(delta) — the candidate
    *     mean round(vsum/cnt·1000)/1000 is exactly the centroid a
    *     rebuild would quantize from those members.
    */
  def buildIndex(spark: SparkSession, corpusPath: String, indexPath: String,
                 numCells: Int = 16, iters: Int = 2,
                 sq8: Boolean = false, pq: Int = 0, pqCodes: Int = 256,
                 pqTrainSample: Int = 1): Int = {
    require(!(sq8 && pq > 0), "sq8 and pq list codecs are mutually exclusive")
    val ver = CowTable.currentVersion(corpusPath)
    val v = withNorm(CowTable.read(spark, corpusPath, Some(ver))
      .select(col("vec_id"), col("ve")))
    val codec: ListCodec =
      if (pq > 0) {
        val dim = v.select(size(col("ve"))).head().getInt(0)
        require(dim % pq == 0, s"pq=$pq must divide the dimension $dim")
        val dsub = dim / pq
        // codebook TRAINING can ride a deterministic hash sample (every
        // pqTrainSample-th vec_id) — the standard PQ practice at corpus
        // scale; ENCODING always covers every vector
        val trainV =
          if (pqTrainSample <= 1) v
          else v.filter(pmod(xxhash64(col("vec_id")), lit(pqTrainSample)) === 0)
        val cbDf = trainCodebooks(trainV, pq, pqCodes, dsub, iters)
          .select(col("sub").cast("int").as("sub"),
            col("code").cast("int").as("code"), col("cw"))
          .localCheckpoint()
        if (CowTable.exists(codebooksPath(indexPath)))
          CowTable.overwrite(spark, codebooksPath(indexPath), cbDf)
        else CowTable.create(cbDf.coalesce(1), codebooksPath(indexPath))
        val cfgTmp = Paths.get(indexPath, s"._pq_config.${CowTable.freshName()}.tmp")
        Files.createDirectories(Paths.get(indexPath))
        Files.write(cfgTmp, s"$pq $pqCodes".getBytes(StandardCharsets.UTF_8))
        Files.move(cfgTmp, pqConfigPath(indexPath),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        loadPqCodec(spark, indexPath)
      } else if (sq8) Sq8Lists
      else FloatLists
    val c = kmeans(v, seedsOf(v, numCells), iters).localCheckpoint()
    // assignment from the FLOAT vectors (cell choice is exact either
    // way); the stored form is the encoded one, and the running stats
    // come from the DECODED stored rows so repairStats reproduces them
    val assign = encodeLists(assignTo(v, c)
      .join(v.select(col("vec_id"), col("ve"), col("nv")), Seq("vec_id")), codec)
    val stats = decodeLists(assign, codec)
      .select(col("cell"), posexplode(col("ve")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg(sum("x").as("sx"), count(lit(1)).as("n"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("sx")))),
                     e => e.getField("sx")).as("vsum"),
           max("n").as("cnt"))
      .select(col("cell").as("cid"), col("vsum"), col("cnt"))
    val cFull = c.join(stats, Seq("cid"))
      .select(col("cid"), col("ce"), col("nc"), col("vsum"), col("cnt"))
    if (CowTable.exists(centroidsPath(indexPath))) {
      // re-seed in place: full-snapshot MERGE keeps table history
      // (time-travel to the pre-rebuild index still works) while the
      // new version IS the rebuilt index — stale cells/vectors retire
      // via POSITIONAL MoR deletes (a key sidecar would also hide the
      // key in rows a later refresh appends; positional pins only the
      // rows that exist now)
      val stale = CowTable.read(spark, centroidsPath(indexPath)).select("cid")
        .join(cFull.select("cid"), Seq("cid"), "left_anti").localCheckpoint()
      CowTable.merge(spark, centroidsPath(indexPath), cFull, "cid")
      if (!stale.isEmpty)
        CowTable.deleteMorPosKeys(spark, centroidsPath(indexPath), stale)
      val gone = CowTable.read(spark, assignPath(indexPath)).select("vec_id")
        .join(assign.select("vec_id"), Seq("vec_id"), "left_anti").localCheckpoint()
      CowTable.merge(spark, assignPath(indexPath), assign, "vec_id")
      if (!gone.isEmpty)
        CowTable.deleteMorPosKeys(spark, assignPath(indexPath), gone)
    } else {
      CowTable.create(cFull, centroidsPath(indexPath))
      CowTable.create(assign, assignPath(indexPath))
    }
    // declare per-file `cell` stats AND a cell dictionary on the
    // lists: every write from here on (cluster rewrites, refresh
    // appends) records both, so a probe's nprobe-cell read file-skips
    // at the MANIFEST level. The dictionary matters after REFRESH
    // windows: an appended file mixes a few cells, so its [min,max]
    // range spans most of the domain and prunes nothing, while its
    // exact cell dictionary (≤ numCells values) still skips it
    CowTable.setStatsColumns(spark, assignPath(indexPath), Seq("cell"))
    CowTable.setLookupColumns(spark, assignPath(indexPath), Seq("cell"),
      dictMax = math.max(128, numCells))
    // the corpus path rides a marker so a probe on quantized lists can
    // exact-rerank from the corpus floats without the caller re-wiring
    val tmp = Paths.get(indexPath, s"._corpus_path.${CowTable.freshName()}.tmp")
    Files.write(tmp, corpusPath.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, corpusMarkerPath(indexPath),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    writeIndexedVersion(indexPath, ver)
    ver
  }

  /** Result of a [[refresh]]: whether drift forced a full re-seed, the
    * corpus version the index now reflects, and the worst relative
    * centroid shift the drift watch observed this window (None when
    * the window carried no cell movement or the path skipped the
    * check — no-op, crash repair, resumed rebuild). Exposing the
    * observed drift is what lets maintenance policy and tests reason
    * about "how close to the re-seed threshold is this index?".
    */
  final case class Refresh(rebuilt: Boolean, toVersion: Int,
                           worstShift: Option[Double] = None)

  /** Incremental maintenance from the corpus CDC feed. Per window:
    *
    *   1. upserted vectors assign to the FROZEN stored centroids
    *      (broadcast — numCells rows);
    *   2. ONE key-pruned scan of the lists collects every changed id's
    *      preimage (cell, ve) — the rows to retire AND the per-cell
    *      sums to subtract from the running stats;
    *   3. drift watch on the RUNNING per-cell stats, O(delta):
    *      vsum' = vsum − Σpreimages + Σpostimages, cnt' likewise; the
    *      candidate mean round(vsum'/cnt'·1000)/1000 is exactly what a
    *      rebuild would quantize from the current members (modulo
    *      summation order, absorbed by the quantization — repeated
    *      add/subtract FP residue rides the same 1e-3 grid, and every
    *      re-seed recomputes the sums exactly). Worst relative L2
    *      shift |ce'−ce|/|ce| > `maxDrift` → re-seed via
    *      [[buildIndex]];
    *   4. otherwise land the delta REWRITE-FREE — the Iceberg-v2
    *      upsert shape, as ONE ATOMIC COMMIT:
    *      [[CowTable.upsertMorPos]] pins the preimage rows with a
    *      positional sidecar (a KEY sidecar would also hide the rows
    *      this very refresh appends) AND lands the new list rows in
    *      the SAME snapshot, stamped with the `(ivf_refresh, toV)` txn
    *      watermark; then the centroid table merges the updated
    *      running stats (ce/nc FROZEN) and the marker advances. The
    *      probe invariant — every vector in its argmax cell under the
    *      stored centroids — holds EXACTLY (IvfIndexSpec's parity
    *      law).
    *
    * CRASH SAFETY (the whole point of the single-commit shape): every
    * prefix of the commit sequence is recoverable by re-calling
    * refresh —
    *   - crash before the upsert commits: nothing landed, the retry
    *     replays the window cleanly;
    *   - crash after the upsert but before the stats merge / marker:
    *     the retry sees the assign table's `ivf_refresh` watermark at
    *     `toV` with the marker behind, and instead of re-deriving
    *     preimage sums from a feed whose preimages are GONE (which
    *     would silently corrupt the running stats), it recomputes the
    *     touched state EXACTLY from the lists ([[repairStats]] — one
    *     aggregate scan, rebuild-identical values) and advances the
    *     marker; the txn gate makes re-landing the upsert a no-op;
    *   - crash inside a drift-triggered re-seed: an intent marker
    *     (`_rebuilding`) is written first, so the retry finishes the
    *     re-seed via [[buildIndex]] (itself convergent under retry —
    *     full-snapshot content-keyed merges) rather than judging
    *     drift against a half-rebuilt index.
    *
    * Cost: O(delta × numCells) assignment + O(delta) stats maintenance
    * + two key-pruned list scans (preimage capture; positional-delete
    * pinning) + sidecar/append commits — never a data-file rewrite,
    * never O(corpus) k-means work. Sidecars fold at
    * the next [[CowTable.compact]]/[[CowTable.cluster]] (maintenance
    * cadence, as for the dedup band index).
    */
  def refresh(spark: SparkSession, corpusPath: String, indexPath: String,
              maxDrift: Double = 0.2,
              numCells: Int = 16, iters: Int = 2): Refresh = {
    // a crash-interrupted drift re-seed resumes FIRST: judging drift
    // against a half-rebuilt index would be garbage either way
    if (Files.exists(rebuildIntentPath(indexPath))) {
      val (rs, rp, rk) = buildParams(codecOf(spark, indexPath))
      buildIndex(spark, corpusPath, indexPath, numCells, iters, rs, rp, rk)
      Files.deleteIfExists(rebuildIntentPath(indexPath))
      return Refresh(rebuilt = true, indexedVersion(indexPath))
    }
    val fromV = indexedVersion(indexPath)
    val toV = CowTable.currentVersion(corpusPath)
    if (toV == fromV) return Refresh(rebuilt = false, toV)
    // crash-repair: a prior attempt's ATOMIC upsert landed (watermark
    // at/past toV) but its stats merge / marker advance did not — the
    // lists already reflect toV, so recompute the running stats
    // exactly from them and advance; never re-derive from a feed
    // whose preimages are gone
    val landedWatermark = CowTable.txnVersion(assignPath(indexPath), RefreshApp)
    if (landedWatermark >= toV.toLong) {
      repairStats(spark, indexPath)
      writeIndexedVersion(indexPath, toV)
      return Refresh(rebuilt = false, toV)
    }
    // a crashed window whose target version is now BEHIND toV (the
    // corpus kept committing between the crash and this refresh): the
    // lists already hold that window's postimages, so repairing only
    // when watermark >= toV would let the preimage capture below read
    // post-crash state and silently corrupt the running stats. Any
    // landed-but-unaccounted window (watermark > marker) repairs first
    // and advances the marker to the watermark; the remaining
    // (watermark, toV] window then processes against consistent state.
    val effFromV =
      if (landedWatermark > fromV.toLong) {
        repairStats(spark, indexPath)
        writeIndexedVersion(indexPath, landedWatermark.toInt)
        landedWatermark.toInt
      } else fromV

    val feed = CowTable.changes(spark, corpusPath, "vec_id", effFromV, toV)
    val upserts = withNorm(
      feed.filter(col("_change_type").isin("insert", "update"))
        .select(col("vec_id"), col("ve")))
    val deleted = feed.filter(col("_change_type") === "delete").select("vec_id")

    val cPath = centroidsPath(indexPath)
    val aPath = assignPath(indexPath)
    val stored = CowTable.read(spark, cPath)
    val hasUpserts = !upserts.isEmpty
    val hasDeletes = !deleted.isEmpty
    // carry the vectors into the list rows (the assign-table layout:
    // vec_id, cell, ve, nv — same shape buildIndex writes)
    val codec = codecOf(spark, indexPath)
    val newAssign =
      if (hasUpserts)
        encodeLists(assignTo(upserts, stored).join(upserts, Seq("vec_id")), codec)
          .localCheckpoint()
      else null
    val changedIds =
      ((if (hasUpserts) Seq(upserts.select("vec_id")) else Nil) ++
       (if (hasDeletes) Seq(deleted) else Nil))
        .reduceOption(_ unionByName _).map(_.localCheckpoint())
    // preimages captured BEFORE any write lands (eager checkpoint: a
    // lazy plan would re-read post-delete state); cells LOSING a
    // member shift too, which is why preimage sums matter
    val pre = changedIds.map(ids =>
      decodeLists(CowTable.read(spark, aPath), codec)
        .join(broadcast(ids), Seq("vec_id"), "left_semi")
        .select(col("cell"), col("ve")).localCheckpoint())

    // signed per-(cell, pos) sums: −preimages, +postimages
    def posSums(rows: DataFrame, sgn: Int): DataFrame =
      rows.select(col("cell"), posexplode(col("ve")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg((sum("x") * sgn).as("sx"), (count(lit(1)) * sgn).as("n"))
    val deltaPos =
      (pre.map(posSums(_, -1)).toSeq ++
       (if (hasUpserts) Seq(posSums(decodeLists(newAssign, codec), 1)) else Nil))
        .reduceOption(_ unionByName _)

    // fold the deltas into the running stats; the candidate quantized
    // mean of each touched cell is its would-be rebuilt centroid
    val judged = deltaPos.map { dp =>
      val delta = dp.groupBy("cell", "pos")
        .agg(sum("sx").as("sx"), sum("n").as("n"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("sx")))),
                       e => e.getField("sx")).as("dsum"),
             max("n").as("dn")) // n is the same net member delta at every pos
        .select(col("cell").as("cid"), col("dsum"), col("dn"))
      stored.join(delta, Seq("cid")) // cells always come from `stored`
        .withColumn("vsum2", zip_with(col("vsum"), col("dsum"), _ + _))
        .withColumn("cnt2", col("cnt") + col("dn"))
        // the cnt2 guard must wrap the MEAN too, not just `shift`: an
        // emptied cell (every member reassigned away) divides by zero
        // here under ANSI before the shift's own guard ever evaluates
        .withColumn("ce2",
          when(col("cnt2") <= 0, lit(null))
            .otherwise(
              transform(col("vsum2"), x => round(x / col("cnt2") * 1000) / 1000)))
        .withColumn("shift",
          // an emptied cell has no candidate mean — frozen centroid
          // stays, no shift row
          when(col("cnt2") <= 0, lit(null).cast("double"))
            .otherwise(
              sqrt(vec_dot(zip_with(col("ce2"), col("ce"), _ - _),
                           zip_with(col("ce2"), col("ce"), _ - _))) / col("nc")))
        .localCheckpoint() // consumed twice: verdict + centroid merge
    }
    val worstShift = judged.flatMap { j =>
      val worst = j.agg(max("shift")).collect().head
      if (worst.isNullAt(0)) None else Some(worst.getDouble(0))
    }
    val drifted = worstShift.exists(_ > maxDrift)
    if (drifted) {
      // intent marker BEFORE the re-seed: a crash mid-rebuild resumes
      // the rebuild on the next refresh instead of judging drift
      // against a half-rebuilt index
      Files.createDirectories(Paths.get(indexPath))
      Files.write(rebuildIntentPath(indexPath),
        toV.toString.getBytes(StandardCharsets.UTF_8))
      val (rs, rp, rk) = buildParams(codec)
      buildIndex(spark, corpusPath, indexPath, numCells, iters, rs, rp, rk)
      Files.deleteIfExists(rebuildIntentPath(indexPath))
      Refresh(rebuilt = true, toV, worstShift)
    } else {
      changedIds.foreach { ids =>
        val adds = if (hasUpserts) newAssign
                   else CowTable.read(spark, aPath).limit(0)
        CowTable.upsertMorPos(spark, aPath, ids, adds,
          txn = Some((RefreshApp, toV.toLong)))
      }
      judged.foreach(j => CowTable.merge(spark, cPath,
        j.select(col("cid"), col("ce"), col("nc"),
                 col("vsum2").as("vsum"), col("cnt2").as("cnt")), "cid"))
      writeIndexedVersion(indexPath, toV)
      Refresh(rebuilt = false, toV, worstShift)
    }
  }

  /** Crash repair: recompute every cell's RUNNING (vsum, cnt) stats
    * EXACTLY from the current assign lists — the same aggregation
    * [[buildIndex]] seeds them with, so the repaired values are
    * rebuild-identical (no accumulated signed-delta residue) — and
    * merge them into the centroid table with ce/nc FROZEN. Cells with
    * no remaining members zero out (their frozen centroid stays, as on
    * the incremental path). One aggregate scan of the lists; only runs
    * after a detected crash window, never on the happy path.
    */
  private[graft] def repairStats(spark: SparkSession, indexPath: String): Unit = {
    val a = decodeLists(CowTable.read(spark, assignPath(indexPath)),
      codecOf(spark, indexPath))
    val stats = a
      .select(col("cell"), posexplode(col("ve")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg(sum("x").as("sx"), count(lit(1)).as("n"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("sx")))),
                     e => e.getField("sx")).as("vs"),
           max("n").as("ct"))
      .select(col("cell").as("cid"), col("vs"), col("ct"))
    val stored = CowTable.read(spark, centroidsPath(indexPath))
    val repaired = stored.select(col("cid"), col("ce"), col("nc"))
      .join(stats, Seq("cid"), "left")
      .withColumn("vsum", coalesce(col("vs"), transform(col("ce"), x => x * lit(0.0))))
      .withColumn("cnt", coalesce(col("ct"), lit(0L)))
      .select(col("cid"), col("ce"), col("nc"), col("vsum"), col("cnt"))
    CowTable.merge(spark, centroidsPath(indexPath), repaired, "cid")
  }

  /** MAINTENANCE: fold the positional-delete sidecars [[refresh]]
    * accumulates (one per window with updates/deletes) back into the
    * list data and restore the cell clustering — probes pay the
    * sidecar range filter until this runs, exactly the compaction
    * cadence of [[IncrementalDedup.compactIndex]]. Cell clustering is
    * what keeps the probe's `cell IN (...)` read file-skipping, so the
    * rewrite goes through [[CowTable.cluster]] (which folds sidecars
    * like compact does) rather than plain bin-packing; cluster writes
    * re-record the declared `cell` stats automatically.
    */
  def compactIndex(spark: SparkSession, indexPath: String,
                   files: Int = 16): Unit = {
    CowTable.cluster(spark, assignPath(indexPath), files, Seq("cell"))
    CowTable.compact(spark, centroidsPath(indexPath), files = 1)
  }

  /** Maintenance thresholds for the index PAIR — the
    * [[graft.sinks.TableMaintenance.Policy]] idea applied to an index
    * whose health metrics are its own: positional-sidecar backlog and
    * small-file count on the assignment lists (each refresh window
    * adds one sidecar + one small appended file, and every probe pays
    * the sidecar range filter and the extra footers until they fold),
    * drift distance to the re-seed threshold, and snapshot retention.
    */
  final case class IndexPolicy(
      maxPosSidecars: Int = 4,
      maxAssignFiles: Int = 64,
      targetFiles: Int = 16,
      keepSnapshots: Int = 10,
      maxDrift: Double = 0.2,
      numCells: Int = 16,
      iters: Int = 2)

  /** What one maintenance pass did (the
    * [[graft.sinks.TableMaintenance.Report]] shape for the pair). */
  final case class IndexReport(
      refreshed: Boolean, reseeded: Boolean, worstShift: Option[Double],
      compacted: Boolean, foldedPosSidecars: Int,
      expiredManifests: Int, vacuumedFiles: Int)

  /** ONE scheduled maintenance pass over (corpus, index) — round 13,
    * VERDICT r12 task 6: round 12 built the levers ([[refresh]],
    * [[compactIndex]], snapshot expiry), this is the policy that
    * SCHEDULES them, so a served index can't quietly lose its
    * file-skipping probe under churn:
    *
    *   1. CATCH UP + DRIFT CHECK: if the corpus moved, [[refresh]]
    *      under `maxDrift` (the drift watch is cumulative since the
    *      last re-seed, so every pass IS a drift check; past the
    *      threshold it re-seeds via [[buildIndex]]);
    *   2. COMPACT when the assignment table's positional-sidecar
    *      backlog or file count exceeds policy — [[compactIndex]]
    *      folds sidecars AND restores the cell clustering that makes
    *      a probe's `cell IN (...)` read file-skip;
    *   3. EXPIRE snapshots past retention on both tables, vacuuming
    *      unreferenced files.
    *
    * Idempotent at steady state: an in-bounds, caught-up index commits
    * nothing (IvfIndexSpec churn fixture asserts degrade → restore →
    * no-op).
    */
  def maintainIndex(spark: SparkSession, corpusPath: String, indexPath: String,
                    policy: IndexPolicy = IndexPolicy()): IndexReport = {
    val aPath = assignPath(indexPath)
    val cPath = centroidsPath(indexPath)
    val needsRefresh = Files.exists(rebuildIntentPath(indexPath)) ||
      CowTable.currentVersion(corpusPath) != indexedVersion(indexPath)
    val r =
      if (needsRefresh)
        Some(refresh(spark, corpusPath, indexPath, policy.maxDrift,
          policy.numCells, policy.iters))
      else None
    val posSidecars = CowTable.snapshotPositionDeletes(aPath).size
    val assignFiles = CowTable.snapshotFiles(aPath).size
    val needCompact = posSidecars > policy.maxPosSidecars ||
      assignFiles > policy.maxAssignFiles
    if (needCompact) compactIndex(spark, indexPath, policy.targetFiles)
    val (e1, v1) = CowTable.expireSnapshots(aPath, policy.keepSnapshots)
    val (e2, v2) = CowTable.expireSnapshots(cPath, policy.keepSnapshots)
    IndexReport(
      refreshed = r.isDefined,
      reseeded = r.exists(_.rebuilt),
      worstShift = r.flatMap(_.worstShift),
      compacted = needCompact,
      foldedPosSidecars = if (needCompact) posSidecars else 0,
      expiredManifests = e1 + e2,
      vacuumedFiles = v1 + v2)
  }

  /** Probe the SERVED index: per query, rank the stored centroids,
    * touch `nprobe` cells, rerank IN PLACE against the vectors the
    * lists carry — a probe never joins back to the corpus (the point of
    * the 2× inverted-list storage). `queries`: (qid, qe). Self-matches
    * (a query id present in the corpus) are excluded, matching
    * [[Pipeline.annIvfTopk]]. The assign read carries a `cell IN
    * (probed)` filter — with ≤ numCells distinct values it is always a
    * literal list, so a cell-clustered assign table file-skips to the
    * probed cells.
    */
  def probe(spark: SparkSession, indexPath: String,
            queries: DataFrame, nprobe: Int, k: Int,
            rerankFactor: Int = 4): DataFrame = {
    val c = CowTable.read(spark, centroidsPath(indexPath))
    val q = withNorm(queries.select(col("qid").as("vec_id"), col("qe").as("ve")))
      .select(col("vec_id").as("qid"), col("ve").as("qe"), col("nv").as("nq"))
      .localCheckpoint()
    val wp = Window.partitionBy("qid").orderBy(col("ps").desc, col("cid"))
    val probes = q.join(broadcast(c), lit(true))
      .withColumn("ps", vec_dot(col("qe"), col("ce")) / (col("nq") * col("nc")))
      .withColumn("pr", row_number().over(wp))
      .filter(col("pr") <= nprobe)
      .select("qid", "cid")
    val cellLits = probes.select("cid").distinct().collect().map(_.get(0))
    val codec = codecOf(spark, indexPath)
    val quantized = codec != FloatLists
    val assign = decodeLists(
        CowTable.readPrunedIn(spark, assignPath(indexPath), "cell",
          cellLits.toIndexedSeq)
          .filter(col("cell").isin(cellLits.toIndexedSeq: _*)), codec)
      .select(col("vec_id"), col("cell"), col("ve").as("ne"), col("nv").as("nn"))
    // on quantized lists this score IS the int8 dot (x scale): the
    // cheap pass that decides which candidates reach the exact rerank
    val cand = q.join(broadcast(probes), Seq("qid"))
      .join(assign, col("cell") === col("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("s", vec_dot(col("qe"), col("ne")) / (col("nq") * col("nn")))
    val wr = Window.partitionBy("qid").orderBy(col("s").desc, col("vec_id"))
    if (!quantized)
      cand
        .withColumn("rn", row_number().over(wr).cast("long"))
        .filter(col("rn") <= k)
        .select(col("qid").as("q"), col("vec_id").as("n"), col("rn"))
    else {
      // EXACT RERANK (IVF-SQ8): rerankFactor*k survivors per query by
      // quantized score, re-scored against the corpus floats — the
      // emitted top-k is exact over the candidate set. The candidate
      // id list is serving-bounded (queries x rerankFactor x k), so it
      // rides the same literal-IN manifest pruning as the cell read.
      val corpus = new String(Files.readAllBytes(corpusMarkerPath(indexPath)),
        StandardCharsets.UTF_8).trim
      val short = cand
        .withColumn("rq", row_number().over(wr))
        .filter(col("rq") <= rerankFactor.toLong * k)
        .select("qid", "vec_id").localCheckpoint()
      val idLits = short.select("vec_id").distinct().collect().map(_.get(0))
      // zero candidates (tiny corpus / the query's probed cells hold
      // only itself): an empty IN-list would reach readPrunedIn/isin
      // with no arguments — return the empty result directly
      if (idLits.isEmpty)
        return cand.select(col("qid").as("q"), col("vec_id").as("n"),
          lit(1L).as("rn")).limit(0)
      val exact = withNorm(
          CowTable.readPrunedIn(spark, corpus, "vec_id", idLits.toIndexedSeq)
            .filter(col("vec_id").isin(idLits.toIndexedSeq: _*))
            .select(col("vec_id"), col("ve")))
        .select(col("vec_id"), col("ve").as("fe"), col("nv").as("nf"))
      q.join(short, Seq("qid"))
        .join(exact, Seq("vec_id"))
        .withColumn("s", vec_dot(col("qe"), col("fe")) / (col("nq") * col("nf")))
        .withColumn("rn", row_number().over(wr).cast("long"))
        .filter(col("rn") <= k)
        .select(col("qid").as("q"), col("vec_id").as("n"), col("rn"))
    }
  }

  // ---- the declared query ------------------------------------------------

  // One prepared (corpus, index) per sfDir: built on first use (the
  // serving model — the build is NOT part of a probe), synchronized
  // for Verify's thread pool, bounded (one temp dir per data dir per
  // JVM, like IncrementalDedup.ingestEnv).
  private val envs = scala.collection.mutable.Map.empty[String, (String, String)]

  private def env(s: SparkSession, d: String): (String, String) =
    envs.synchronized {
      envs.getOrElseUpdate(d, {
        val dir = Files.createTempDirectory("graft_ivf_env").toString
        val corpus = s"$dir/corpus"
        val index = s"$dir/index"
        CowTable.create(graft.tables.Tables.t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").as("ve")), corpus)
        buildIndex(s, corpus, index)
        (corpus, index)
      })
    }

  /** The SERVED-index face of `ann_ivf_topk`: identical rows, same
    * DuckDB oracle (the persistent build runs the same seeded,
    * quantized k-means over the same corpus), but each invocation
    * times ONLY the probe path — centroid ranking, nprobe cell reads,
    * exact rerank — against the stored index tables, the cost a query
    * pays on a served 100 TB index. The build runs once per data dir,
    * outside the timed body (like `dedup_ingest_only`'s prepared
    * environment).
    */
  val annIvfPersistent: (SparkSession, String) => DataFrame = (s, d) => {
    val (corpus, index) = env(s, d)
    val queries = CowTable.read(s, corpus).filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("ve").as("qe"))
    probe(s, index, queries, nprobe = 4, k = 3)
      .orderBy("q", "rn")
  }
}
