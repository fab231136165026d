package reconbench

import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sinks.{CowTable, Sinks}
import graft.sources.Sources
import graft.streaming.StreamOps

/** What one pass of the pipeline left behind. `dueMs(k)` is when slice k
  * was due for release and `releasedMs(k)` when it was released (closed
  * loops: both at stream start, for every slice).
  */
final case class Pass(queryId: java.util.UUID, batches: Seq[StreamingQueryProgress],
                      reads: Seq[Read], dueMs: Array[Long], releasedMs: Array[Long],
                      table: String, streamDir: Option[Path]) {
  require(batches.nonEmpty, "the stream ran no micro-batch")
  def startMs(b: StreamingQueryProgress): Long = Instant.parse(b.timestamp).toEpochMilli
  def firstStartMs: Long = startMs(batches.head)
  def lastEndMs: Long = batches.map(b => startMs(b) + b.durationMs.get("triggerExecution").longValue).max
  def phase(k: String): Seq[Double] =
    batches.map(b => Option(b.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0))
  def sum(k: String): Double = phase(k).sum
  def stateOps = batches.flatMap(_.stateOperators.headOption)
  def genLagMaxS: Double = dueMs.zip(releasedMs).map { case (d, r) => (r - d) / 1000.0 }.max
}

/** The outcome table of a pass, read back through its version history. */
final case class TableFacts(versions: Seq[Version], addedRows: Long, finalRows: Long,
                            matchedLatencyS: Seq[Double])

/** One run of one workload: set-up, a warm-up, the timed pass, the batch
  * twin and the gate. With tracing, in place of the timed pass: a traced
  * pass, the join-only and sink-only isolation passes and an untraced
  * reference pass.
  */
final class Run(spark: SparkSession, o: Opts, declared: Declared, entryNs: Long) {
  import Run._

  private val work = Run.dir(o)
  private val tracer = new Tracer(o.trace)
  private val log = new ProgressLog
  private val sessionS = (System.nanoTime() - entryNs) / 1e9

  /** Progress on stderr, timed from the benchmark's entry. */
  private def note(what: String): Unit =
    System.err.println(f"reconbench: ${(System.nanoTime() - entryNs) / 1e9}%7.2fs $what")

  // ---- set-up, repeated: the median of the repetitions counts
  private final case class Staged(plan: Plan, events: DataFrame, replay: Option[DataFrame],
                                  slices: Seq[Path], prepDir: String)

  /** Generates and stages one input; returns it with the seconds of the
    * whole step and of the staging alone.
    */
  private def stage(name: String, seed: Long, seconds: Int): (Staged, Double, Double) = {
    val t0 = System.nanoTime()
    val plan = Workloads.plan(o.workload, seed, seconds)
    val events = Gen.frame(spark, plan.events.toSeq).persist()
    events.count()
    val t1 = System.nanoTime()
    val prep = work.resolve(name).toString
    val staged =
      if (plan.paced) Staged(plan, events, None, Workloads.stageSlices(spark, plan, prep), prep)
      else Staged(plan, events, Some(Sources.eventsReplay(spark,
        events.unionByName(Gen.frame(spark, plan.sentinels)), prep, files = plan.slices)), Nil, prep)
    val t2 = System.nanoTime()
    tracer.add(Span("setup", name, None, Span.epochMs(t0), Span.epochMs(t2)))
    tracer.add(Span("sources.replay_prep", name, Some("setup"), Span.epochMs(t1), Span.epochMs(t2)))
    (staged, (t2 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  private val reps = (1 to SetupReps).map(rep => stage(s"staged$rep", o.seed, o.seconds))
  reps.init.foreach { case (s, _, _) => s.events.unpersist(); discard(Path.of(s.prepDir)) }
  note("set-up done")
  private val st = reps.last._1
  private val plan = st.plan
  private val setupS = sessionS + Stats.median(reps.map(_._2))
  private val replayPrepS = Stats.median(reps.map(_._3))

  // ---- passes
  private def legs(input: DataFrame): DataFrame =
    StreamOps.reconStream(input.filter(col("event_type") === "signup"),
                          input.filter(col("event_type") === "purchase"))

  /** The pipeline as a user runs it: replayed or released events through
    * `StreamOps.reconStream` into `Sinks.reconCdcPipeline`. Paced, one
    * reader runs serving reads back to back beside it; closed loops read
    * nothing while they drain, then take `quiescentReads` of the final table.
    */
  private def pipelinePass(name: String, st: Staged = st, quiescentReads: Int = 0): Pass = {
    val plan = st.plan
    val dir = work.resolve(name)
    val table = dir.resolve("table").toString
    val streamDir = if (plan.paced) Some(Files.createDirectories(dir.resolve("stream"))) else None
    val input = streamDir.map(d => Sources.eventsStream(spark, d.toString)).getOrElse(st.replay.get)
    val serving = new Serving(spark, table, st.events)
    val reads = mutable.ArrayBuffer.empty[Read]
    // paced: the sentinels follow in a slice of their own; the replay puts
    // them in its last slice
    val slices = if (plan.paced) plan.slices + 1 else plan.slices
    val t0 = System.currentTimeMillis()
    val q = Sinks.reconCdcPipeline(legs(input), table, dir.resolve("ckpt").toString)
    val dueMs = Array.tabulate(slices)(k => if (plan.paced) t0 + (k + 1L) * plan.sliceMs else t0)
    val releasedMs = dueMs.clone()
    streamDir.foreach { sd =>
      val stop = new AtomicBoolean(false)
      val reader = new Thread(() => {
        while (!stop.get) {
          if (CowTable.exists(table)) reads += tracedRead(serving, s"$name-r${reads.length}")
          else Thread.sleep(10)
        }
      }, "reconbench-reader")
      val tmp = Files.createDirectories(dir.resolve("release-tmp"))
      val generator = new Thread(() => {
        for (k <- 0 until slices) {
          val wait = dueMs(k) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          val f = Files.copy(st.slices(k), tmp.resolve(s"$k.parquet"))
          Workloads.release(f, sd, k)
          releasedMs(k) = System.currentTimeMillis()
        }
      }, "reconbench-generator")
      reader.start(); generator.start()
      generator.join()
      try q.processAllAvailable()
      finally { stop.set(true); reader.join() }
    }
    if (streamDir.isEmpty) q.processAllAvailable()
    q.stop()
    note(s"$name: stream stopped")
    if (streamDir.isEmpty && quiescentReads > 0) {
      (1 to ReadWarmUp).foreach(_ => serving.read())
      (1 to quiescentReads).foreach(i => reads += tracedRead(serving, s"$name-r$i"))
    }
    Pass(q.id, log.batches(q.id), reads.toList, dueMs, releasedMs, table, streamDir)
  }

  private def tracedRead(serving: Serving, id: String): Read = {
    val r = serving.read()
    val s = r.startMs
    tracer.add(Span("serving.read", id, None, s, s + r.totalS * 1000))
    tracer.add(Span("serving.snapshot", id, Some("serving.read"), s, s + r.snapshotS * 1000))
    tracer.add(Span("serving.census", id, Some("serving.read"), s + r.snapshotS * 1000,
      s + (r.snapshotS + r.censusS) * 1000))
    tracer.add(Span("serving.aging", id, Some("serving.read"), s + (r.snapshotS + r.censusS) * 1000,
      s + r.totalS * 1000))
    r
  }

  /** Batch spans from the stream's own progress: one id per micro-batch,
    * its phases laid out in order inside it, and the gaps between triggers.
    */
  private def traceBatches(pass: String, p: Pass): Unit = {
    var prevEnd = Option.empty[Double]
    p.batches.foreach { b =>
      val id = s"$pass-b${b.batchId}"
      val s = p.startMs(b).toDouble
      val trig = b.durationMs.get("triggerExecution").longValue
      prevEnd.filter(_ < s).foreach(e => tracer.add(Span("streaming.inter_trigger", id, None, e, s)))
      tracer.add(Span("batch", id, None, s, s + trig))
      var at = s
      PhaseOrder.filter(b.durationMs.containsKey).foreach { k =>
        val d = b.durationMs.get(k).longValue
        tracer.add(Span(PhaseName(k), id, Some("batch"), at, at + d))
        at += d
      }
      prevEnd = Some(s + trig)
    }
  }

  /** The traced pass's input again. Paced: the released slices regrouped
    * as the traced pass admitted them, one file per batch.
    */
  private def replayOf(p: Pass, dir: Path): DataFrame = p.streamDir match {
    case Some(sd) =>
      val admitted = admittedMs(p)
      val starts = admitted.distinct.sorted
      val batchOf = admitted.map(starts.indexOf(_))
      // released files are named by slice index
      val batch = udf((uri: String) => batchOf(Path.of(new java.net.URI(uri)).getFileName.toString.take(6).toInt))
      val files = Workloads.filePerGroup(
        spark.read.schema(Sources.eventSchema).parquet(sd.toString).withColumn("batch", batch(input_file_name())),
        "batch", starts.indices, dir.resolve("by-batch").toString)
      Workloads.asSequence(files, dir.resolve("input"))
      Workloads.oneFilePerTrigger(spark, Sources.eventSchema, dir.resolve("input").toString)
    case None => st.replay.get
  }

  /** The join alone: `reconStream` over the same slices into a no-op sink. */
  private def joinOnlyPass(p: Pass): Pass = {
    val dir = work.resolve("join-only")
    val q = legs(replayOf(p, dir)).writeStream
      .format("noop").outputMode("append")
      .option("checkpointLocation", dir.resolve("ckpt").toString).start()
    q.processAllAvailable(); q.stop()
    Pass(q.id, log.batches(q.id), Nil, Array(0L), Array(0L), "", None)
  }

  /** The sink alone: each commit's new outcome rows from `p`, one file per
    * trigger, through `Sinks.reconCdcPipeline` into a fresh table.
    */
  private def sinkOnlyPass(p: Pass, versions: Seq[Version]): Pass = {
    val dir = work.resolve("sink-only")
    val files = Workloads.filePerGroup(
      Outcomes.addedRows(spark, versions).groupBy("status", "a_id", "b_id").agg(min("__v").as("v")),
      "v", versions.map(_.v), dir.resolve("by-version").toString)
    val seq = dir.resolve("input")
    Workloads.asSequence(files, seq)
    val table = dir.resolve("table").toString
    val q = Sinks.reconCdcPipeline(Workloads.oneFilePerTrigger(spark, OutcomeSchema, seq.toString),
      table, dir.resolve("ckpt").toString)
    q.processAllAvailable(); q.stop()
    Pass(q.id, log.batches(q.id), Nil, Array(0L), Array(0L), table, None)
  }

  // ---- analysis of a finished pass
  /** Per slice, in release order: lowest and highest event time (None for
    * a slice of sentinels only) and row count, sentinels included.
    */
  private lazy val slices: Seq[(Option[Long], Option[Long], Long)] =
    if (plan.paced) {
      val bySlice = plan.events.groupBy(_.slice)
      (0 to plan.slices).map { k =>
        val ts = bySlice.get(k).map(_.map(_.tsMicros)).getOrElse(Array.empty[Long])
        (ts.minOption, ts.maxOption,
         ts.length.toLong + (if (k == plan.slices) plan.sentinels.length else 0))
      }
    } else
      spark.read.parquet(st.prepDir)
        .groupBy(input_file_name().as("f"))
        .agg(min(when(col("event_id") >= 0, unix_micros(col("ts")))).as("lo"),
             max(when(col("event_id") >= 0, unix_micros(col("ts")))).as("hi"),
             count(lit(1)).as("n"))
        .orderBy("f").collect().toSeq
        .map(r => (Option(r.get(1)).map(_ => r.getLong(1)), Option(r.get(2)).map(_ => r.getLong(2)), r.getLong(3)))

  /** The slice of each event id. Replay slices are event-time ranges. */
  private lazy val sliceOf: Array[Int] =
    if (plan.paced) {
      val a = new Array[Int](plan.events.length)
      plan.events.foreach(e => a(e.id.toInt) = e.slice)
      a
    } else {
      val his = slices.map(_._2.getOrElse(Long.MaxValue)).toArray
      plan.events.map { e =>
        val k = java.util.Arrays.binarySearch(his, e.tsMicros)
        if (k >= 0) k else -k - 1
      }
    }

  /** When the trigger that admitted each slice started: files are
    * admitted whole and in order, so the rows a batch read tell which
    * files it took.
    */
  private def admittedMs(p: Pass): Array[Long] = {
    val readAfter = p.batches.scanLeft(0L)(_ + _.numInputRows / LegScans).tail
    slices.map(_._3).scanLeft(0L)(_ + _).tail.map { upTo =>
      p.batches.zip(readAfter).find(_._2 >= upTo).map(b => p.startMs(b._1)).getOrElse(Long.MaxValue)
    }.toArray
  }

  /** When each slice was released to the stream: paced, when it was due on
    * the schedule; closed loops, when the stream admitted it, since the
    * backlog hands over the next slice when the stream asks for it.
    */
  private def releaseMs(p: Pass): Array[Long] = if (plan.paced) p.dueMs else admittedMs(p)

  private def facts(p: Pass): TableFacts = {
    val versions = Outcomes.history(p.table)
    val added = Outcomes.addedRows(spark, versions).persist()
    val commitMs = versions.map(v => v.v -> v.commitMs).toMap
    val released = releaseMs(p)
    def rel(id: Long): Long = released(sliceOf(id.toInt))
    val latency = Outcomes.real(added).filter(col("status") === "matched")
      .groupBy("a_id", "b_id").agg(min("__v").as("v"))
      .collect().map { r =>
        (commitMs(r.getInt(2)) - math.max(rel(r.getLong(0)), rel(r.getLong(1)))) / 1000.0
      }.toSeq
    val f = TableFacts(versions, added.count(),
      Outcomes.real(CowTable.read(spark, p.table)).count(), latency)
    added.unpersist()
    f
  }

  /** Reads whose census fell below an earlier one, or that threw. */
  private def badReads(reads: Seq[Read]): Int = {
    var last = Map.empty[String, Long]
    reads.count { r =>
      val bad = r.error.nonEmpty || last.exists { case (k, n) => r.census.getOrElse(k, 0L) < n }
      if (r.error.isEmpty) last = r.census
      bad
    }
  }

  /** Files released but not yet admitted, at the start of each batch. */
  private def backlog(p: Pass): Seq[Double] = {
    val admitted = admittedMs(p)
    p.batches.map { b =>
      val t = p.startMs(b)
      (p.releasedMs.count(_ <= t) - admitted.count(_ < t)).max(0).toDouble
    }
  }

  private def twinDf(events: DataFrame): DataFrame =
    StreamOps.reconStream(events.filter(col("event_type") === "signup"),
                          events.filter(col("event_type") === "purchase"))

  /** The batch twin: the same job on the static events. */
  private def twinJob(events: DataFrame, path: String): Unit = {
    CowTable.create(twinDf(events), path)
    Outcomes.census(CowTable.read(spark, path))
  }

  /** The batch twin. Returns the last twin table and the seconds of each
    * whole job and (traced) of each join alone.
    */
  private def twin(): (DataFrame, Seq[Double], Seq[Double]) = {
    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val n = if (o.trace) TwinReps else 1
    val reps = (1 to n).map { r =>
      val path = work.resolve(if (r == n) "twin" else s"twin-$r").toString
      val total = secs(twinJob(st.events, path))
      val join = if (o.trace) secs(twinDf(st.events).write.format("noop").mode("overwrite").save()) else 0.0
      (total, join)
    }
    (CowTable.read(spark, work.resolve("twin").toString), reps.map(_._1), reps.map(_._2))
  }

  def result(): Result = {
    spark.streams.addListener(log)
    try compute() finally spark.streams.removeListener(log)
  }

  /** A short run of the same pipeline on other events, untimed: class
    * loading, code generation and JIT compilation of the stream, the sink
    * and the serving reads happen here, not in the timed pass.
    */
  private def warmUp(): Unit = {
    val (w, _, _) = stage("warm-up", o.seed + WarmUpSeedOffset, WarmUpSeconds)
    pipelinePass("warm-up-pass", w)
    w.events.unpersist()
    discard(work.resolve("warm-up-pass"))
    discard(Path.of(w.prepDir))
    note("warm-up done")
  }

  private def compute(): Result = {
    warmUp()
    val (main, mainFacts, layers) =
      if (!o.trace) {
        val timed = pipelinePass("timed")
        (timed, facts(timed), Map.empty[String, Double])
      } else {
        // the untraced reference runs last, on a JVM warmer than the traced
        // pass had: the overhead it gives errs on the high side
        val jobs = new JobCounter
        spark.sparkContext.addSparkListener(jobs)
        val traced =
          try pipelinePass("traced", quiescentReads = QuiescentReads)
          finally spark.sparkContext.removeSparkListener(jobs)
        traceBatches("traced", traced)
        val tracedFacts = facts(traced)
        val join = joinOnlyPass(traced)
        discard(work.resolve("join-only"))
        note("join-only pass done")
        val sink = sinkOnlyPass(traced, tracedFacts.versions)
        discard(work.resolve("sink-only"))
        note("sink-only pass done")
        val reference = pipelinePass("reference")
        val referenceWallS = streamWallS(reference, Outcomes.history(reference.table))
        discard(work.resolve("reference"))
        (traced, tracedFacts, perLayer(traced, tracedFacts, join, sink, jobs.counts(traced.queryId),
          referenceWallS))
      }
    note("passes analysed")
    val (twinTable, twinReps, twinJoinReps) = twin()
    val (twinS, twinJoinS) = (Stats.median(twinReps), Stats.median(twinJoinReps))
    note("batch twin done")
    val twinRows = twinTable.persist()
    val gate = Gate.check(Outcomes.real(CowTable.read(spark, main.table)), twinRows, st.events,
      lateDrops = main.stateOps.map(_.numRowsDroppedByWatermark).sum, readFailures = badReads(main.reads))
    val matchedSignups = twinRows.filter(col("status") === "matched").select("a_id").distinct().count()
    val twinMatched = twinRows.filter(col("status") === "matched").count()
    twinRows.unpersist()
    note("gate done")
    val real = slices.filter(_._1.nonEmpty)
    val input = InputProps(plan.events, real.map(_._1.get), real.map(_._2.get), matchedSignups)

    val n = plan.events.length.toDouble
    val latency = mainFacts.matchedLatencyS.sorted
    val batchS = main.phase("triggerExecution")
    val readS = main.reads.filter(_.error.isEmpty).map(_.totalS)
    val wallS = streamWallS(main, mainFacts.versions)
    def endToEnd = Map(
      "events_per_s" -> n / wallS,
      "batch_p50_s" -> Stats.median(batchS),
      "outcome_latency_p50_s" -> Stats.quantile(latency, 0.5),
      "setup_s" -> setupS)
    val missed = latency.count(_ > SloS) + (twinMatched - latency.length).max(0)
    val extra = (if (!plan.paced) Map.empty[String, Double] else Map(
      "slo_miss_frac" -> (if (twinMatched == 0) 0.0 else missed.toDouble / twinMatched))) ++ Map(
      // outcomes of one micro-batch share its commit, so the tail stands
      // on a handful of batches: recorded, not declared
      "outcome_latency_p90_s" -> Stats.quantile(latency, 0.9),
      "stream_wall_s" -> wallS,
      "batches" -> batchS.length.toDouble,
      "reads" -> main.reads.length.toDouble,
      "matched_outcomes" -> latency.length.toDouble) ++
      (if (o.trace) tracer.selfSeconds.map { case (k, v) => s"self_s.$k" -> v } else Map.empty)
    lazy val backlogSeries = backlog(main)
    lazy val half = (backlogSeries.length / 2).max(1)
    val tracedLayers =
      if (!o.trace) Map.empty[String, Double]
      else layers ++ Map(
        "sources.replay_prep_s" -> replayPrepS,
        "sources.backlog_files_max" -> backlogSeries.max,
        // > 0 when the second half of the run queued more files than the first
        "sources.backlog_growth_files" ->
          (if (backlogSeries.length < 2) 0.0 else backlogSeries.drop(half).max - backlogSeries.take(half).max),
        "twin.total_s" -> twinS,
        "twin.join_s" -> twinJoinS,
        "twin.write_s" -> (twinS - twinJoinS))
    if (o.trace) tracer.write(java.nio.file.Paths.get(o.results, s"trace-${o.workload}-${o.seed}.jsonl"))
    val attempted = plan.events.length.toLong + main.reads.length
    val series = Map("batch_s" -> batchS, "read_s" -> readS, "twin_s" -> twinReps)
    Result(o, attempted, gate, if (o.trace) tracedLayers else endToEnd, extra, input, config(), series,
      declared.units(o.trace))
  }

  private def perLayer(p: Pass, f: TableFacts, join: Pass, sink: Pass,
                       counts: (Long, Long, Long), referenceWallS: Double): Map[String, Double] = {
    val self = tracer.selfSeconds
    val wall = (p.lastEndMs - p.firstStartMs) / 1000.0
    // trigger time outside every phase the progress names: reported as
    // its own number, not folded into a layer
    val uncovered = self.getOrElse("batch", 0.0)
    if (uncovered > 0.1 * wall)
      note(f"layer self-times cover only ${100 * (wall - uncovered) / wall}%.1f%% of the traced wall")
    val (jobsN, tasksN, shuffleB) = counts
    val nb = p.batches.length.toDouble
    val reads = p.reads.filter(_.error.isEmpty)
    val finalVersion = f.versions.last
    val sinkBatch = sink.phase("addBatch")
    Map(
      "sources.latest_offset_s" -> p.sum("latestOffset"),
      "sources.get_batch_s" -> p.sum("getBatch"),
      "sources.input_rows" -> (p.batches.map(_.numInputRows).sum / LegScans - plan.sentinels.length).toDouble,
      "streaming.query_planning_s" -> p.sum("queryPlanning"),
      "streaming.log_commit_s" -> (p.sum("walCommit") + p.sum("commitOffsets")),
      "streaming.add_batch_s" -> p.sum("addBatch"),
      "streaming.inter_trigger_s" -> self.getOrElse("streaming.inter_trigger", 0.0),
      "streaming.join_s" -> join.sum("addBatch"),
      "streaming.state_rows_max" -> p.stateOps.map(_.numRowsTotal).max.toDouble,
      "streaming.state_mem_bytes_max" -> p.stateOps.map(_.memoryUsedBytes).max.toDouble,
      "streaming.state_update_s" -> p.stateOps.map(_.allUpdatesTimeMs).sum / 1000.0,
      "streaming.state_removal_s" -> p.stateOps.map(_.allRemovalsTimeMs).sum / 1000.0,
      "streaming.state_commit_s" -> p.stateOps.map(_.commitTimeMs).sum / 1000.0,
      "streaming.rows_dropped_late" -> p.stateOps.map(_.numRowsDroppedByWatermark).sum.toDouble,
      "streaming.jobs_per_batch" -> jobsN / nb,
      "streaming.tasks_per_batch" -> tasksN / nb,
      "streaming.shuffle_write_bytes" -> shuffleB.toDouble,
      "streaming.add_batch_residue_s" -> (p.sum("addBatch") - join.sum("addBatch") - sink.sum("addBatch")),
      "sinks.sink_s" -> sink.sum("addBatch"),
      "sinks.sink_batch_p50_s" -> Stats.median(sinkBatch),
      "sinks.commits" -> f.versions.length.toDouble,
      "sinks.files_added" -> f.versions.map(_.added.length).sum.toDouble,
      "sinks.bytes_added" -> f.versions.map(v => Outcomes.bytes(v.added)).sum.toDouble,
      "sinks.write_amplification" -> f.addedRows.toDouble / f.finalRows,
      "sinks.table_files" -> finalVersion.files.length.toDouble,
      "sinks.table_bytes" -> Outcomes.bytes(finalVersion.files).toDouble,
      "serving.read_p50_s" -> Stats.median(reads.map(_.totalS)),
      "serving.snapshot_s" -> Stats.median(reads.map(_.snapshotS)),
      "serving.census_s" -> Stats.median(reads.map(_.censusS)),
      "serving.aging_s" -> Stats.median(reads.map(_.agingS)),
      "serving.files_per_read" -> Stats.median(reads.map(_.files.toDouble)),
      "serving.reads" -> p.reads.length.toDouble,
      "serving.read_failures" -> badReads(p.reads).toDouble,
      "load.gen_lag_max_s" -> p.genLagMaxS,
      "trace.wall_s" -> wall,
      "trace.uncovered_s" -> uncovered,
      "trace.coverage" -> (wall - uncovered) / wall,
      "trace.overhead_s" -> (streamWallS(p, f.versions) - referenceWallS))
  }

  /** From the first trigger's start to the last outcome commit. */
  private def streamWallS(p: Pass, versions: Seq[Version]): Double =
    (versions.map(_.commitMs).max - p.firstStartMs) / 1000.0

  private def config(): Map[String, String] = Map(
    "master" -> spark.sparkContext.master,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "state_store_provider" -> spark.conf.get("spark.sql.streaming.stateStore.providerClass"),
    "jvm" -> o.jvm,
    "heap_max_bytes" -> Runtime.getRuntime.maxMemory.toString,
    "seed" -> o.seed.toString,
    "seconds" -> o.seconds.toString,
    "offered_rate_events_per_s" -> plan.rate.toString,
    "slices" -> plan.slices.toString,
    "slo_s" -> SloS.toString,
    "host_cpus" -> Runtime.getRuntime.availableProcessors.toString)
}

object Run {
  def dir(o: Opts): Path = java.nio.file.Paths.get(o.work).resolve(s"${o.workload}-${o.seed}")

  /** Deletes the files of a finished step at once. Files still in the page
    * cache go for free; on a disk mounted with `discard`, each one already
    * written back costs milliseconds, so deleting it all at the end of a
    * traced run took over ten seconds.
    */
  def discard(dir: Path): Unit = if (Files.exists(dir)) {
    val files = Files.walk(dir)
    try files.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally files.close()
  }

  val WarmUpSeconds = 3
  val WarmUpSeedOffset = 1000003L
  /** Traced closed-loop runs time this many serving reads of the final
    * table, after `ReadWarmUp` untimed ones.
    */
  val QuiescentReads = 6
  val ReadWarmUp = 2
  /** Traced runs time the batch twin this often; timed runs build it once, for the gate. */
  val TwinReps = 3
  val SetupReps = 3
  /** Both legs scan the one event stream, and progress counts each scan. */
  val LegScans = 2
  /** paced: a matched outcome later than this misses the latency target. */
  val SloS = 4.0

  val OutcomeSchema = StructType(Seq(StructField("status", StringType),
    StructField("a_id", LongType), StructField("b_id", LongType)))

  /** `StreamingQueryProgress.durationMs` keys, in the order a trigger runs them. */
  val PhaseOrder = Seq("latestOffset", "getOffset", "setOffsetRange", "getEndOffset",
    "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
  val PhaseName: Map[String, String] = Map(
    "latestOffset" -> "sources.latest_offset", "getOffset" -> "sources.get_offset",
    "setOffsetRange" -> "sources.set_offset_range", "getEndOffset" -> "sources.get_end_offset",
    "walCommit" -> "streaming.wal_commit", "getBatch" -> "sources.get_batch",
    "queryPlanning" -> "streaming.query_planning", "addBatch" -> "streaming.add_batch",
    "commitOffsets" -> "streaming.commit_offsets")
}
